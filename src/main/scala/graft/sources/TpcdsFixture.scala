package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Deterministic TPC-DS-schema fixture for the verbatim-query track
  * (`queries/TpcdsVerbatim.scala`).
  *
  * The reference validates the verbatim 99 TPC-DS queries
  * (/root/reference/extension/tpcds/dsdgen/queries/NN.sql) against dsdgen
  * data; this container has no dsdgen, so the tables are generated here
  * as pure hash functions of the row id — the SAME bytes on every run,
  * so the DuckDB oracle (reading the parquet this object writes) and any
  * later driver run see identical data.
  *
  * Every derived column goes through `h(salt) = (id*1103515245 + salt)
  * mod 2^31-1` BEFORE the small range modulus. A first draft used bare
  * `pmod(id*k, range)` chains and hit systematic aliasing three separate
  * ways (a hot-arm selector mod 5 excluding every item sku ≡ 4 mod 5, an
  * inventory date stride ≡ 0 mod the base-quantity modulus making every
  * snapshot pair identical, parity coupling between cycles with even
  * moduli); hashing through a large prime removes the entire class — no
  * small modulus can divide a stride of the prime-mod sequence.
  *
  * Design constraints, so the verbatim texts hash-compare clean and
  * return non-empty results:
  *  - Every money/measure column is an INTEGER-VALUED DOUBLE: sums of
  *    integer-valued doubles below 2^53 are exact in ANY accumulation
  *    order, so Spark and DuckDB agree bit-for-bit without round() and
  *    the queries can stay verbatim (Q.scala conventions 1-2 handled at
  *    the source instead of the text).
  *  - ~20% of store/catalog/web sales rows are HOT: clustered on 40 hot
  *    items and a 25-30 day hot window (Nov 2000 for store, Feb 2000 for
  *    catalog/web) so q23's `HAVING count(*) > 4` per (item, day) and
  *    the q14 cross-channel INTERSECT are non-empty.
  *  - inventory quantities are small bases with occasional +400 spikes:
  *    q39's stdev/mean > 1 selects spike groups, q37/q82's
  *    `inv_quantity_on_hand BETWEEN 100 AND 500` selects spike rows.
  *  - d_month_seq = (year-1900)*12 + month-1, so the queries' literal
  *    `BETWEEN 1200 AND 1211` window is exactly year 2000.
  */
object TpcdsFixture {
  val tables: Seq[String] = Seq("date_dim", "item", "customer", "warehouse",
    "store", "customer_address", "household_demographics",
    "customer_demographics", "time_dim", "promotion", "reason",
    "income_band", "ship_mode", "call_center", "web_site", "web_page",
    "catalog_page", "store_sales", "catalog_sales", "web_sales",
    "inventory", "store_returns", "catalog_returns", "web_returns")

  /** Stable per-JVM output dir (same convention as Sources.csvFixture:
    * written once, referenced by absolute path from the oracle SQL).
    */
  val dir: String =
    s"${System.getProperty("java.io.tmpdir")}/graft_tpcds_${
      java.util.UUID.randomUUID().toString.take(8)}"

  // julian day number of 1998-01-01, like real dsdgen date_sk values
  private val DskBase = 2450815
  private val NDays = 1826 // 1998-01-01 .. 2002-12-31
  private val NItem = 4000L
  private val NCust = 1500L
  // day indexes of the hot windows (datediff from 1998-01-01). Web's hot
  // window deliberately sits in a DIFFERENT year than catalog's: q23's
  // Feb-2000 cross-channel branch needs hot mass (catalog supplies it),
  // while q31 compares web-vs-store quarter-over-quarter ratios inside
  // year 2000 and a Q1-2000 web spike made web growth structurally lose
  // to store growth in every county (observed: ws_q2/ws_q1 ~= 0.09
  // everywhere)
  private val HotStoreDay = 1035 // 2000-11-01 (+0..29)
  private val HotCatalogDay = 761 // 2000-02-01 (+0..24)
  private val HotWebDay = 396 // 1999-02-01 (+0..24)

  /** Salted hash of the row id through a large prime — aliasing-free
    * source for every small-range draw below. The MULTIPLIER varies with
    * the salt, not just the offset: with a shared multiplier, two draws
    * differ by a constant before the outer modulus, so `(h+c) mod 10` is
    * a pure function of `h mod 100` and columns couple (observed: every
    * manager-1 item landing in one category). Distinct multipliers make
    * the draws independent linear maps mod the prime.
    */
  private def h(salt: Int): String =
    s"pmod(id * ${1103515245L + salt * 12820163L} + $salt, 2147483647)"
  private def hm(salt: Int, range: Long): String = s"pmod(${h(salt)}, $range)"

  @volatile private var written = false

  def ensure(spark: SparkSession): Unit = {
    if (written) return
    synchronized {
      if (written) return
      generate(spark, dir, 1L)
      written = true
    }
  }

  def view(spark: SparkSession, table: String): Unit = {
    ensure(spark)
    spark.read.parquet(s"$dir/$table.parquet").createOrReplaceTempView(table)
  }

  /** Scaled variant for the perf pairing (`BenchBoard tpcds`): same schema,
    * same dimensions and plants, `factor`× the fact-table rows — the
    * extra ids extend the same hash formulas, so every distribution
    * property (hot windows, ticket structure, returns derivation) holds
    * at any factor. Written to its own dir; the correctness fixture is
    * untouched.
    */
  private val scaledDirs = scala.collection.concurrent.TrieMap.empty[Long, String]
  def ensureScaled(spark: SparkSession, factor: Long): String =
    scaledDirs.getOrElseUpdate(factor, {
      val d = s"${System.getProperty("java.io.tmpdir")}/graft_tpcds_x${factor}_${
        java.util.UUID.randomUUID().toString.take(8)}"
      generate(spark, d, factor)
      d
    })

  private def generate(spark: SparkSession, dir: String, factor: Long): Unit = {
    def write(name: String, df: DataFrame): Unit =
    // repartition (even layout; coalesce skews unions) — cap stays 16:
    // the r14 32-file experiment measured JOB 15% worse at median
    // (task-dispatch overhead beats scan width at these walls; PERF r14)
      df.repartition(math.max(2, (2 * factor).toInt min 16))
        .write.mode("overwrite").parquet(s"$dir/$name.parquet")

    write("date_dim", spark.range(NDays.toLong).selectExpr(
      s"CAST($DskBase + id AS INT) AS d_date_sk",
      "date_add(DATE '1998-01-01', CAST(id AS INT)) AS d_date",
      // 1998-01-01 was a Thursday; weeks turn on Sunday
      """element_at(array('Thursday','Friday','Saturday','Sunday',
        |  'Monday','Tuesday','Wednesday'), CAST(id % 7 AS INT) + 1)
        |  AS d_day_name""".stripMargin,
      "CAST(5000 + (id + 4) DIV 7 AS INT) AS d_week_seq",
      """CAST((year(date_add(DATE '1998-01-01', CAST(id AS INT))) - 1900) * 12
        | + month(date_add(DATE '1998-01-01', CAST(id AS INT))) - 1 AS INT)
        | AS d_month_seq""".stripMargin,
      "CAST(month(date_add(DATE '1998-01-01', CAST(id AS INT))) AS INT) AS d_moy",
      "CAST(quarter(date_add(DATE '1998-01-01', CAST(id AS INT))) AS INT) AS d_qoy",
      "CAST(pmod(id + 4, 7) AS INT) AS d_dow",
      "CAST(day(date_add(DATE '1998-01-01', CAST(id AS INT))) AS INT) AS d_dom",
      """concat(year(date_add(DATE '1998-01-01', CAST(id AS INT))), 'Q',
        |  quarter(date_add(DATE '1998-01-01', CAST(id AS INT))))
        |  AS d_quarter_name""".stripMargin,
      "CAST(year(date_add(DATE '1998-01-01', CAST(id AS INT))) AS INT) AS d_year"))

    // items 3901..3916 are PLANTED q41 combos (one per OR-arm, two
    // tuples each) with manufact ids 738..753 — q41's conjunction of
    // (category, color, units, size) pairs inside a manufact range is
    // otherwise a coin-flip at this item count
    val plantedCat = "array('Women','Women','Women','Women','Men','Men','Men','Men'," +
      "'Women','Women','Women','Women','Men','Men','Men','Men')"
    val plantedCatId = "array(7,7,7,7,6,6,6,6,7,7,7,7,6,6,6,6)"
    val plantedColor = "array('powder','khaki','brown','honeydew','floral','deep'," +
      "'light','cornflower','midnight','snow','cyan','papaya','orange','frosted','forest','ghost')"
    val plantedUnits = "array('Ounce','Oz','Bunch','Ton','N/A','Dozen','Box'," +
      "'Pound','Pallet','Gross','Cup','Dram','Each','Tbl','Lb','Bundle')"
    val plantedSize = "array('medium','extra large','N/A','small','petite','petite'," +
      "'medium','extra large','medium','extra large','N/A','small','petite','petite','medium','extra large')"
    def planted(arr: String, other: String): String =
      s"CASE WHEN id BETWEEN 3901 AND 3916 THEN element_at($arr, CAST(id - 3900 AS INT)) ELSE $other END"
    write("item", spark.range(1, NItem + 1).selectExpr(
      "CAST(id AS INT) AS i_item_sk",
      "concat('ITEM', lpad(CAST(id AS STRING), 12, '0')) AS i_item_id",
      "concat('description of item ', id, ' with some padding text for substrings') AS i_item_desc",
      s"CAST(CASE WHEN id BETWEEN 3901 AND 3916 THEN 738 + id - 3901 ELSE ${hm(101, 1000)} END AS INT) AS i_manufact_id",
      s"concat('manu#', CASE WHEN id BETWEEN 3901 AND 3916 THEN 738 + id - 3901 ELSE ${hm(101, 1000)} END) AS i_manufact",
      s"CAST(${hm(103, 100)} AS INT) AS i_manager_id",
      s"CAST(1 + ${hm(105, 50)} AS INT) AS i_brand_id",
      s"""CASE CAST(1 + ${hm(105, 50)} AS INT)
        |  WHEN 1 THEN 'scholaramalgamalg #14' WHEN 2 THEN 'scholaramalgamalg #7'
        |  WHEN 3 THEN 'exportiunivamalg #9' WHEN 4 THEN 'scholaramalgamalg #9'
        |  WHEN 5 THEN 'amalgimporto #1' WHEN 6 THEN 'edu packscholar #1'
        |  WHEN 7 THEN 'exportiimporto #1' WHEN 8 THEN 'importoamalg #1'
        |  ELSE concat('Brand#', 1 + ${hm(105, 50)}) END AS i_brand""".stripMargin,
      s"CAST(1 + ${hm(107, 16)} AS INT) AS i_class_id",
      s"""element_at(array('personal','portable','reference','self-help',
        |  'accessories','classical','fragrances','pants','computers','stereo',
        |  'football','shirts','birdal','dresses','maternity','bedding'),
        |  CAST(1 + ${hm(107, 16)} AS INT)) AS i_class""".stripMargin,
      s"CAST(${planted(plantedCatId, s"1 + ${hm(109, 10)}")} AS INT) AS i_category_id",
      planted(plantedCat,
        s"""element_at(array('Sports','Books','Home','Electronics','Jewelry',
          |  'Men','Women','Music','Shoes','Children'),
          |  CAST(1 + ${hm(109, 10)} AS INT))""".stripMargin) + " AS i_category",
      s"CAST(${hm(111, 100)} AS DOUBLE) + 0.99 AS i_current_price",
      planted(plantedColor,
        s"""element_at(array('powder','khaki','brown','honeydew','floral','deep',
          |  'light','cornflower','midnight','snow','cyan','papaya','orange',
          |  'frosted','forest','ghost','peach','linen','plum','slate',
          |  'blanched','burnished'),
          |  CAST(1 + ${hm(113, 22)} AS INT))""".stripMargin) + " AS i_color",
      planted(plantedUnits,
        s"""element_at(array('Ounce','Oz','Bunch','Ton','N/A','Dozen','Box',
          |  'Pound','Pallet','Gross','Cup','Dram','Each','Tbl','Lb','Bundle'),
          |  CAST(1 + ${hm(115, 16)} AS INT))""".stripMargin) + " AS i_units",
      planted(plantedSize,
        s"""element_at(array('medium','extra large','N/A','small','petite',
          |  'large','economy'), CAST(1 + ${hm(117, 7)} AS INT))""".stripMargin) + " AS i_size",
      s"CAST(1 + ${hm(119, 100)} AS DOUBLE) AS i_wholesale_cost",
      "concat('product', id) AS i_product_name"))

    write("customer", spark.range(1, NCust + 1).selectExpr(
      "CAST(id AS INT) AS c_customer_sk",
      "concat('CUST', lpad(CAST(id AS STRING), 12, '0')) AS c_customer_id",
      s"CASE WHEN ${hm(201, 37)} = 0 THEN NULL ELSE concat('First', ${hm(203, 200)}) END AS c_first_name",
      s"CASE WHEN ${hm(205, 41)} = 0 THEN NULL ELSE concat('Last', ${hm(207, 300)}) END AS c_last_name",
      s"CASE ${hm(209, 3)} WHEN 0 THEN 'Y' WHEN 1 THEN 'N' ELSE NULL END AS c_preferred_cust_flag",
      s"""element_at(array('UNITED STATES','CANADA','MEXICO','BRAZIL','FRANCE',
        |  'GERMANY','ITALY','SPAIN','JAPAN','CHINA','INDIA','AUSTRALIA',
        |  'EGYPT','KENYA','PERU','CHILE','NORWAY','POLAND','GREECE','TURKEY'),
        |  CAST(1 + ${hm(211, 20)} AS INT)) AS c_birth_country""".stripMargin,
      s"CASE WHEN ${hm(213, 5)} = 0 THEN NULL ELSE concat('login', id) END AS c_login",
      s"CAST(CASE WHEN id = 1 THEN 2 ELSE 1 + ${hm(215, 800)} END AS INT) AS c_current_addr_sk",
      s"""element_at(array('Mr.','Mrs.','Ms.','Dr.','Sir','Miss'),
        |  CAST(1 + ${hm(217, 6)} AS INT)) AS c_salutation""".stripMargin,
      // customer 1 is the q91 plant: current cdemo 2 = ('M','Unknown'),
      // current hdemo 1 = 'Unknown' buy potential, current addr 2 =
      // gmt_offset -7 (see the planted dimension rows below); the
      // planted catalog_sales block bills customer 1
      s"CAST(CASE WHEN id = 1 THEN 2 ELSE 1 + ${hm(219, 200)} END AS INT) AS c_current_cdemo_sk",
      s"CAST(CASE WHEN id = 1 THEN 1 ELSE 1 + ${hm(241, 120)} END AS INT) AS c_current_hdemo_sk",
      s"CAST(1 + ${hm(243, 28)} AS INT) AS c_birth_day",
      s"CAST(1 + ${hm(245, 12)} AS INT) AS c_birth_month",
      s"CAST(1924 + ${hm(247, 69)} AS INT) AS c_birth_year",
      s"CAST($DskBase + ${hm(249, NDays)} AS INT) AS c_last_review_date_sk",
      s"CAST($DskBase + ${hm(251, NDays)} AS INT) AS c_first_sales_date_sk",
      s"CAST($DskBase + ${hm(253, NDays)} AS INT) AS c_first_shipto_date_sk",
      "concat('user', id, '@example.com') AS c_email_address"))

    write("warehouse", spark.range(1, 6).selectExpr(
      "CAST(id AS INT) AS w_warehouse_sk",
      "concat('Warehouse ', id) AS w_warehouse_name",
      s"CAST(1000 * (1 + ${hm(261, 30)}) AS INT) AS w_warehouse_sq_ft",
      """element_at(array('Fairview','Midway','Oak Grove','Centerville',
        |  'Liberty'), CAST(id AS INT)) AS w_city""".stripMargin,
      """element_at(array('Williamson County','Rush County','Orange County',
        |  'Toole County','Franklin Parish'), CAST(id AS INT)) AS w_county""".stripMargin,
      "element_at(array('TN','CA','GA','TX','OH'), CAST(id AS INT)) AS w_state",
      "'United States' AS w_country"))

    // a SHARED zip pool: 15 zips from q8's literal IN-list + q15/q45's
    // nine + 16 generic — q8 needs >10 preferred customers per listed
    // zip prefix, q24 needs s_zip = ca_zip matches, q19 needs most
    // (store, address) pairs to differ. Stores and addresses draw from
    // the same pool.
    val zipPool = "array(" + Seq(
      "24128", "76232", "65084", "87816", "83926", "77556", "20548",
      "26231", "43848", "15126", "91137", "61265", "98294", "25782",
      "17920", "85669", "86197", "88274", "83405", "86475", "85392",
      "85460", "80348", "81792", "10001", "20002", "30003", "40004",
      "50005", "60006", "70007", "80008", "90009", "11010", "12011",
      "13012", "14013", "15014", "16015", "17016")
      .map("'" + _ + "'").mkString(",") + ")"

    // 12 stores (ss_store_sk is 1..12): three in TN (q1/q36 filter),
    // every store at gmt_offset -5 (q43), market ids cover 8 (q24)
    write("store", spark.range(1, 13).selectExpr(
      "CAST(id AS INT) AS s_store_sk",
      "concat('STORE', lpad(CAST(id AS STRING), 8, '0')) AS s_store_id",
      // dsdgen-dictionary-style names, but DISTINCT: dsq65 orders by
      // (s_store_name, i_item_desc) LIMIT 100, so a repeated name makes
      // the cutoff tie-ambiguous between engines (observed: two 'able'
      // stores sharing a bottom-decile item). q88/q96 only need one 'ese'.
      """element_at(array('ought','able','ese','anti','cally','ation','eing',
        |  'bar','pri','n st','ese ought','able anti'), CAST(id AS INT)) AS s_store_name""".stripMargin,
      """element_at(array('TN','TN','TN','CA','WA','GA','NY','TX','FL',
        |  'OH','MI','IL'), CAST(id AS INT)) AS s_state""".stripMargin,
      """element_at(array('Fairview','Midway','Pleasant Hill','Oak Grove',
        |  'Centerville','Liberty'), CAST(1 + pmod(id, 6) AS INT)) AS s_city""".stripMargin,
      """element_at(array('Williamson County','Orange County','Bronx County',
        |  'Franklin Parish','Rush County','Toole County','Jefferson County',
        |  'Dona Ana County','La Porte County','Rush County','Toole County',
        |  'Williamson County'), CAST(id AS INT)) AS s_county""".stripMargin,
      s"element_at($zipPool, CAST(1 + ${hm(233, 40)} AS INT)) AS s_zip",
      "CAST(1 + pmod(id, 3) AS INT) AS s_company_id",
      "concat('Company ', 1 + pmod(id, 3)) AS s_company_name",
      // store 5 pinned to market 8: q24 filters s_market_id = 8 and a
      // 12-store hash draw misses the value ~28% of the time (observed)
      s"CAST(CASE WHEN id = 5 THEN 8 ELSE 1 + ${hm(235, 10)} END AS INT) AS s_market_id",
      "CAST(-5.0 AS DOUBLE) AS s_gmt_offset",
      s"CAST(150 + ${hm(237, 200)} AS INT) AS s_number_employees",
      "CAST(100 + id AS STRING) AS s_street_number",
      "concat('Street', 1 + pmod(id, 4)) AS s_street_name",
      "element_at(array('St','Ave','Blvd','Ln'), CAST(1 + pmod(id, 4) AS INT)) AS s_street_type",
      "concat('Suite ', id) AS s_suite_number"))

    // address 1 is the q85 plant (IN / United States — the refunded-addr
    // state arm); address 2 the q91 plant (gmt_offset -7). The city pool
    // holds 'Edgewood' (q84), the state pool grew to 30 to reach q18's
    // (MS,IN,ND,OK,NM,VA) list, and gmt_offset is mixed -5/-6/-7 (q61/q33
    // need -5 rows, q91 -7).
    write("customer_address", spark.range(1, 801).selectExpr(
      "CAST(id AS INT) AS ca_address_sk",
      s"element_at($zipPool, CAST(1 + ${hm(221, 40)} AS INT)) AS ca_zip",
      s"""CASE WHEN id = 1 THEN 'IN' ELSE element_at(array('TN','CA','WA',
        |  'GA','NY','TX','FL','OH','MI','IL','PA','AZ','CO','OR','NV',
        |  'UT','KS','IA','MN','WI','MS','IN','ND','OK','NM','VA','KY',
        |  'NJ','CT','LA'), CAST(1 + ${hm(223, 30)} AS INT)) END AS ca_state""".stripMargin,
      s"""element_at(array('Edgewood','Fairview','Midway','Pleasant Hill',
        |  'Oak Grove','Centerville','Liberty','Salem','Glendale','Marion',
        |  'Greenville','Franklin','Springfield','Clinton','Georgetown',
        |  'Ashland','Oakland','Riverside','Milford','Newport','Clifton',
        |  'Bethel','Lakeview','Union','Wildwood','Antioch','Bridgeport',
        |  'Buena Vista','Cedar Grove','Concord','Crossroads','Deerfield',
        |  'Enterprise','Five Points','Florence','Forest Hills','Friendship',
        |  'Glenwood','Granite','Greenfield','Greenwood','Hamilton',
        |  'Harmony','Highland','Hillcrest','Hopewell','Jackson','Jamestown',
        |  'Kingston','Lakeside','Lebanon','Lincoln','Macedonia','Maple Grove',
        |  'Mount Olive','Mount Pleasant','Mount Zion','New Hope','Oakdale',
        |  'Pine Grove'), CAST(1 + ${hm(225, 60)} AS INT)) AS ca_city""".stripMargin,
      s"CASE WHEN id = 1 THEN 'United States' WHEN ${hm(227, 10)} = 0 THEN 'Canada' ELSE 'United States' END AS ca_country",
      // 10 counties (dsq10's IN-list five + five more): dsq31 needs
      // enough independent county cells that its web-beats-store
      // double-inequality holds somewhere
      s"""element_at(array('Rush County','Toole County','Jefferson County',
        |  'Dona Ana County','La Porte County','Williamson County',
        |  'Orange County','Bronx County','Franklin Parish',
        |  'Richland County'),
        |  CAST(1 + ${hm(229, 10)} AS INT)) AS ca_county""".stripMargin,
      "CAST(100 + id AS STRING) AS ca_street_number",
      "concat('Street', 1 + pmod(id, 9)) AS ca_street_name",
      "element_at(array('St','Ave','Blvd','Ln'), CAST(1 + pmod(id, 4) AS INT)) AS ca_street_type",
      "concat('Suite ', id) AS ca_suite_number",
      """element_at(array('apartment','condo','single family'),
        |  CAST(1 + pmod(id, 3) AS INT)) AS ca_location_type""".stripMargin,
      s"""CAST(CASE WHEN id = 2 THEN -7.0 ELSE element_at(array(-5.0,-5.0,
        |  -5.0,-5.0,-5.0,-5.0,-5.0,-6.0,-7.0,-7.0),
        |  CAST(1 + ${hm(231, 10)} AS INT)) END AS DOUBLE) AS ca_gmt_offset""".stripMargin))

    // hdemo 1 is the q91 plant ('Unknown' buy potential, customer 1's
    // current hdemo)
    write("household_demographics", spark.range(1, 121).selectExpr(
      "CAST(id AS INT) AS hd_demo_sk",
      s"CAST(${hm(601, 10)} AS INT) AS hd_dep_count",
      s"CAST(${hm(603, 5)} AS INT) AS hd_vehicle_count",
      s"CAST(1 + ${hm(607, 20)} AS INT) AS hd_income_band_sk",
      s"""CASE WHEN id = 1 THEN 'Unknown' ELSE element_at(array('>10000',
        |  'Unknown','1001-5000','0-500','5001-10000','501-1000'),
        |  CAST(1 + ${hm(605, 6)} AS INT)) END AS hd_buy_potential""".stripMargin))

    // cdemo 1 is the q85 plant ('M'/'Advanced Degree' — the refunded and
    // returning demo of the planted web_returns block), cdemo 2 the q91
    // plant ('M'/'Unknown', customer 1's current cdemo)
    write("customer_demographics", spark.range(1, 201).selectExpr(
      "CAST(id AS INT) AS cd_demo_sk",
      s"element_at(array('M','F'), CAST(1 + ${hm(611, 2)} AS INT)) AS cd_gender",
      s"""CASE WHEN id IN (1, 2) THEN 'M' ELSE element_at(array('M','S','D',
        |  'W','U'), CAST(1 + ${hm(613, 5)} AS INT)) END AS cd_marital_status""".stripMargin,
      s"""CASE WHEN id = 1 THEN 'Advanced Degree' WHEN id = 2 THEN 'Unknown'
        |  ELSE element_at(array('Primary','Secondary','College','2 yr Degree',
        |  '4 yr Degree','Advanced Degree','Unknown'),
        |  CAST(1 + ${hm(615, 7)} AS INT)) END AS cd_education_status""".stripMargin,
      s"CAST(500 * (1 + ${hm(617, 20)}) AS INT) AS cd_purchase_estimate",
      s"""element_at(array('Low Risk','Good','High Risk','Unknown'),
        |  CAST(1 + ${hm(619, 4)} AS INT)) AS cd_credit_rating""".stripMargin,
      s"CAST(${hm(621, 7)} AS INT) AS cd_dep_count",
      s"CAST(${hm(623, 7)} AS INT) AS cd_dep_employed_count",
      s"CAST(${hm(625, 7)} AS INT) AS cd_dep_college_count"))

    write("time_dim", spark.range(86400).selectExpr(
      "CAST(id AS INT) AS t_time_sk",
      "CAST(id AS INT) AS t_time",
      "CAST(id DIV 3600 AS INT) AS t_hour",
      "CAST((id % 3600) DIV 60 AS INT) AS t_minute",
      """CASE WHEN id DIV 3600 BETWEEN 6 AND 8 THEN 'breakfast'
        |  WHEN id DIV 3600 BETWEEN 11 AND 13 THEN 'lunch'
        |  WHEN id DIV 3600 BETWEEN 17 AND 19 THEN 'dinner'
        |  ELSE NULL END AS t_meal_time""".stripMargin))

    write("promotion", spark.range(1, 51).selectExpr(
      "CAST(id AS INT) AS p_promo_sk",
      s"element_at(array('Y','N'), CAST(1 + ${hm(631, 2)} AS INT)) AS p_channel_email",
      s"element_at(array('Y','N'), CAST(1 + ${hm(633, 2)} AS INT)) AS p_channel_event",
      s"element_at(array('Y','N'), CAST(1 + ${hm(635, 2)} AS INT)) AS p_channel_dmail",
      s"element_at(array('Y','N'), CAST(1 + ${hm(637, 2)} AS INT)) AS p_channel_tv"))

    write("reason", spark.range(1, 36).selectExpr(
      "CAST(id AS INT) AS r_reason_sk",
      "concat('reason ', id) AS r_reason_desc"))

    write("income_band", spark.range(1, 21).selectExpr(
      "CAST(id AS INT) AS ib_income_band_sk",
      "CAST((id - 1) * 5000 AS INT) AS ib_lower_bound",
      "CAST(id * 5000 - 1 AS INT) AS ib_upper_bound"))

    write("ship_mode", spark.range(1, 21).selectExpr(
      "CAST(id AS INT) AS sm_ship_mode_sk",
      """element_at(array('EXPRESS','NEXT DAY','OVERNIGHT','REGULAR',
        |  'TWO DAY'), CAST(1 + pmod(id, 5) AS INT)) AS sm_type""".stripMargin,
      """element_at(array('DHL','BARIAN','UPS','FEDEX','AIRBORNE','USPS',
        |  'ZHOU','LATVIAN','TBS','ZOUROS','GREAT EASTERN','DIAMOND',
        |  'RUPEKSA','ORIENTAL','BOXBUNDLES','ALLIANCE','GERMA','HARMSTORF',
        |  'PRIVATECARRIER','MSC'), CAST(id AS INT)) AS sm_carrier""".stripMargin))

    // two of six call centers sit in Williamson County (q16's filter)
    write("call_center", spark.range(1, 7).selectExpr(
      "CAST(id AS INT) AS cc_call_center_sk",
      "concat('CC', lpad(CAST(id AS STRING), 8, '0')) AS cc_call_center_id",
      """element_at(array('NY Metro','Mid Atlantic','Pacific Northwest',
        |  'North Midwest','California','Central'), CAST(id AS INT))
        |  AS cc_name""".stripMargin,
      """element_at(array('Williamson County','Orange County',
        |  'Williamson County','Rush County','Toole County',
        |  'Franklin Parish'), CAST(id AS INT)) AS cc_county""".stripMargin,
      "concat('Manager ', id) AS cc_manager"))

    write("web_site", spark.range(1, 13).selectExpr(
      "CAST(id AS INT) AS web_site_sk",
      "concat('SITE', lpad(CAST(id AS STRING), 8, '0')) AS web_site_id",
      "concat('site_', id) AS web_name",
      """element_at(array('pri','able','ought','anti','cally','ation',
        |  'pri','able','ought','anti','cally','ation'), CAST(id AS INT))
        |  AS web_company_name""".stripMargin))

    // wp_char_count range 4800..5399: about a third lands in q90's
    // 5000..5200 band
    write("web_page", spark.range(1, 31).selectExpr(
      "CAST(id AS INT) AS wp_web_page_sk",
      s"CAST(4800 + ${hm(641, 600)} AS INT) AS wp_char_count"))

    write("catalog_page", spark.range(1, 41).selectExpr(
      "CAST(id AS INT) AS cp_catalog_page_sk",
      "concat('PAGE', lpad(CAST(id AS STRING), 8, '0')) AS cp_catalog_page_id"))

    // hot arms: ~1/5 of rows hit the 40 hot items and ~1/3 the hot day
    // window — their overlap concentrates (item, day) cells past q23's
    // count(*) > 4. Rows 1000..1019 of EVERY sales channel are the q58
    // plant: same day (2000-01-03's week), same item (101..120), same
    // ext_sales_price per id — cross-channel per-item revenues agree
    // exactly, satisfying q58's mutual ±10% bands. ~1/19 of ss_addr_sk
    // is NULL (q44's baseline subquery averages the NULL-addr slice).
    val q58day = 732 // datediff('2000-01-03', '1998-01-01')
    def q58(col: String, other: String): String =
      s"CASE WHEN id BETWEEN 1000 AND 1019 THEN $col ELSE $other END"
    // ticket (basket) structure: base baskets of ~14 rows, 1/5 of rows
    // migrate to the next basket (size variance reaches q34's 15-20 cnt
    // band), and 1/4 of baskets split into three 4-5 row sub-baskets
    // (q73's 1-5 band). Date, customer, store, and hdemo draw from the
    // FINAL ticket id so every row of a basket shares them — q34/q46/
    // q68/q73/q79 group per (ticket, customer) and filter per basket.
    def th(salt: Int): String =
      s"pmod(tick * ${1103515245L + salt * 12820163L} + $salt, 2147483647)"
    def thm(salt: Int, range: Long): String = s"pmod(${th(salt)}, $range)"
    write("store_sales", spark.range(300000 * factor)
      .selectExpr("id",
        s"id DIV 14 + CASE WHEN ${hm(341, 5)} = 0 THEN 1 ELSE 0 END AS t1")
      .selectExpr("id",
        """CASE WHEN pmod(t1 * 2654435761 + 353, 2147483647) % 4 = 0
          |  THEN t1 * 4 + 1 + pmod(id, 3) ELSE t1 * 4 END AS tick""".stripMargin)
      .selectExpr(
      s"""CAST($DskBase + ${q58(q58day.toString,
           s"""CASE WHEN ${thm(301, 3)} = 0
         |  THEN $HotStoreDay + ${thm(303, 30)}
         |  ELSE ${thm(305, NDays)} END""".stripMargin)} AS INT) AS ss_sold_date_sk""",
      s"""CAST(${q58("101 + id - 1000",
           s"""CASE WHEN ${hm(307, 5)} = 0 THEN 1 + ${hm(309, 40)}
         |  ELSE 1 + ${hm(311, NItem)} END""".stripMargin)} AS INT) AS ss_item_sk""",
      s"CASE WHEN ${thm(313, 97)} = 0 THEN NULL ELSE CAST(1 + ${thm(315, NCust)} AS INT) END AS ss_customer_sk",
      s"CASE WHEN ${thm(339, 53)} = 0 THEN NULL ELSE CAST(1 + ${thm(317, 12)} AS INT) END AS ss_store_sk",
      "tick AS ss_ticket_number",
      s"CAST(1 + ${thm(343, 120)} AS INT) AS ss_hdemo_sk",
      s"CAST(1 + ${hm(345, 200)} AS INT) AS ss_cdemo_sk",
      s"CAST(1 + ${hm(347, 50)} AS INT) AS ss_promo_sk",
      s"CAST(${hm(349, 86400)} AS INT) AS ss_sold_time_sk",
      s"CAST(${hm(355, 300)} AS DOUBLE) AS ss_ext_tax",
      // per-TICKET like real dsdgen (one delivery address per basket):
      // q68/q79 group by (ticket, customer, addr, city) then ORDER BY
      // (..., ss_ticket_number) LIMIT 100 — a per-ROW addr splits one
      // ticket into several groups sharing every sort key, and the
      // cutoff/order of those ties diverges between engines
      s"CASE WHEN ${thm(337, 19)} = 0 THEN NULL ELSE CAST(1 + ${thm(319, 800)} AS INT) END AS ss_addr_sk",
      s"CAST(1 + ${hm(321, 100)} AS INT) AS ss_quantity",
      s"CAST(1 + ${hm(323, 200)} AS DOUBLE) AS ss_list_price",
      s"CAST(1 + ${hm(325, 150)} AS DOUBLE) AS ss_sales_price",
      s"CAST(${q58("500 + (id - 1000) * 7",
        s"(1 + ${hm(325, 150)}) * (1 + ${hm(321, 100)})")} AS DOUBLE) AS ss_ext_sales_price",
      s"CAST((1 + ${hm(323, 200)}) * (1 + ${hm(321, 100)}) AS DOUBLE) AS ss_ext_list_price",
      s"CAST(1 + ${hm(327, 90)} AS DOUBLE) AS ss_wholesale_cost",
      s"CAST((1 + ${hm(327, 90)}) * (1 + ${hm(321, 100)}) AS DOUBLE) AS ss_ext_wholesale_cost",
      s"CAST(${hm(329, 250)} AS DOUBLE) AS ss_ext_discount_amt",
      s"CAST(${hm(331, 1500)} AS DOUBLE) AS ss_coupon_amt",
      s"CAST(${hm(333, 2000)} AS DOUBLE) AS ss_net_paid",
      // wide range: q44 ranks items by avg(ss_net_profit) and joins the
      // asc/desc ranks — an exact avg TIE makes rank() pairs ambiguous
      // between engines (observed at range 1000), so collisions must be
      // improbable at ~25-row per-item samples
      s"CAST(${hm(335, 100000)} - 20000 AS DOUBLE) AS ss_net_profit"))

    // 3-line orders (id DIV 3) with a PER-LINE warehouse draw: q16/q94's
    // EXISTS(same order, different warehouse) then holds for ~96% of
    // orders, and pmod(order, 3) = 0 decides which orders return — an
    // order-level fact the NOT EXISTS(returns) anti-joins need. Rows
    // 3000..3199 are the q91 plant: billed to customer 1 (whose current
    // cdemo/hdemo/addr rows are planted above), sold mid-Oct 1998 so
    // their returns (+1..140 days) cover Nov 1998.
    write("catalog_sales", spark.range(150000 * factor)
      .selectExpr("id", "id DIV 3 AS ordn")
      .selectExpr("id",
      "ordn AS cs_order_number",
      s"""CAST(CASE WHEN id BETWEEN 3000 AND 3199 THEN $DskBase + 287
         |  ELSE $DskBase + ${q58(q58day.toString,
           s"""CASE WHEN ${hm(401, 3)} = 0
         |  THEN $HotCatalogDay + ${hm(403, 25)}
         |  ELSE ${hm(405, NDays)} END""".stripMargin)} END AS INT) AS cs_sold_date_sk""".stripMargin,
      s"""CAST(${q58("101 + id - 1000",
           s"""CASE WHEN ${hm(407, 5)} = 0 THEN 1 + ${hm(409, 40)}
         |  ELSE 1 + ${hm(411, NItem)} END""".stripMargin)} AS INT) AS cs_item_sk""",
      // customers 1..300 are STORE-ONLY (web/catalog draws start at 301):
      // with every customer active in every channel, q69's
      // NOT EXISTS(web) AND NOT EXISTS(catalog) quarter filter was
      // unsatisfiable (~100 web rows/customer ~= 5 per quarter)
      s"CAST(CASE WHEN id BETWEEN 3000 AND 3199 THEN 1 ELSE 301 + ${hm(413, NCust - 300)} END AS INT) AS cs_bill_customer_sk",
      s"CAST(1 + ${hm(415, 100)} AS INT) AS cs_quantity",
      s"CAST(1 + ${hm(417, 190)} AS DOUBLE) AS cs_list_price",
      s"CAST(1 + ${hm(425, 600)} AS DOUBLE) AS cs_sales_price",
      s"CAST(${q58("500 + (id - 1000) * 7",
        s"(1 + ${hm(419, 140)}) * (1 + ${hm(415, 100)})")} AS DOUBLE) AS cs_ext_sales_price",
      s"CAST((1 + ${hm(417, 190)}) * (1 + ${hm(415, 100)}) AS DOUBLE) AS cs_ext_list_price",
      s"CAST((1 + ${hm(421, 85)}) * (1 + ${hm(415, 100)}) AS DOUBLE) AS cs_ext_wholesale_cost",
      s"CAST(${hm(423, 600)} AS DOUBLE) AS cs_ext_discount_amt",
      s"CAST(${hm(427, 1200)} - 300 AS DOUBLE) AS cs_net_profit",
      s"CAST(1 + ${hm(429, 800)} AS INT) AS cs_bill_addr_sk",
      s"CASE WHEN ${hm(431, 47)} = 0 THEN NULL ELSE CAST(1 + ${hm(433, 800)} AS INT) END AS cs_ship_addr_sk",
      s"CAST(1 + ${hm(435, 200)} AS INT) AS cs_bill_cdemo_sk",
      s"CAST(1 + ${hm(437, 50)} AS INT) AS cs_promo_sk",
      s"CAST(${hm(439, 1400)} AS DOUBLE) AS cs_coupon_amt",
      s"CAST(301 + ${hm(441, NCust - 300)} AS INT) AS cs_ship_customer_sk",
      s"CAST(1 + ${hm(443, 5)} AS INT) AS cs_warehouse_sk",
      s"CAST(1 + ${hm(447, 20)} AS INT) AS cs_ship_mode_sk",
      s"CAST(1 + ${hm(449, 6)} AS INT) AS cs_call_center_sk",
      s"CAST(1 + ${hm(451, 40)} AS INT) AS cs_catalog_page_sk",
      s"CAST(${hm(453, 500)} AS DOUBLE) AS cs_ext_ship_cost",
      s"CAST(1 + ${hm(455, 2000)} AS DOUBLE) AS cs_net_paid",
      s"CAST(1 + ${hm(457, 2200)} AS DOUBLE) AS cs_net_paid_inc_tax",
      s"CAST(${hm(459, 86400)} AS INT) AS cs_sold_time_sk",
      s"CAST(1 + ${hm(461, 120)} AS INT) AS cs_bill_hdemo_sk",
      s"CAST(1 + ${hm(463, 85)} AS DOUBLE) AS cs_wholesale_cost")
      .selectExpr("*",
        s"CAST(cs_sold_date_sk + 1 + ${hm(445, 130)} AS INT) AS cs_ship_date_sk")
      .drop("id"))

    // 3-line orders with per-line warehouses, like catalog_sales (q94/
    // q95's EXISTS + NOT EXISTS order semantics). Rows 2000..2199 are the
    // q85 plant: sold 2000-03-11 (day 800), sales_price 120 (the
    // 'M'/'Advanced Degree' arm's 100..150 band), net_profit 150 (inside
    // all three state-arm bands); their returns carry cdemo 1 and addr 1.
    write("web_sales", spark.range(150000 * factor)
      .selectExpr("id", "id DIV 3 AS ordn")
      .selectExpr("id",
      "ordn AS ws_order_number",
      s"""CAST(CASE WHEN id BETWEEN 2000 AND 2199 THEN $DskBase + 800
         |  ELSE $DskBase + ${q58(q58day.toString,
           s"""CASE WHEN ${hm(501, 3)} = 0
         |  THEN $HotWebDay + ${hm(503, 25)}
         |  ELSE ${hm(505, NDays)} END""".stripMargin)} END AS INT) AS ws_sold_date_sk""".stripMargin,
      s"""CAST(${q58("101 + id - 1000",
           s"""CASE WHEN ${hm(507, 5)} = 0 THEN 1 + ${hm(509, 40)}
         |  ELSE 1 + ${hm(511, NItem)} END""".stripMargin)} AS INT) AS ws_item_sk""",
      s"CAST(301 + ${hm(513, NCust - 300)} AS INT) AS ws_bill_customer_sk",
      s"CAST(1 + ${hm(515, 100)} AS INT) AS ws_quantity",
      s"CAST(1 + ${hm(517, 185)} AS DOUBLE) AS ws_list_price",
      s"CAST(CASE WHEN id BETWEEN 2000 AND 2199 THEN 120 ELSE 1 + ${hm(527, 600)} END AS DOUBLE) AS ws_sales_price",
      s"CAST(${q58("500 + (id - 1000) * 7",
        s"(1 + ${hm(519, 145)}) * (1 + ${hm(515, 100)})")} AS DOUBLE) AS ws_ext_sales_price",
      s"CAST((1 + ${hm(517, 185)}) * (1 + ${hm(515, 100)}) AS DOUBLE) AS ws_ext_list_price",
      s"CAST((1 + ${hm(521, 80)}) * (1 + ${hm(515, 100)}) AS DOUBLE) AS ws_ext_wholesale_cost",
      s"CAST(${hm(523, 550)} AS DOUBLE) AS ws_ext_discount_amt",
      s"CAST(${hm(525, 1900)} AS DOUBLE) AS ws_net_paid",
      s"CAST(1 + ${hm(529, 800)} AS INT) AS ws_bill_addr_sk",
      s"CASE WHEN ${hm(531, 47)} = 0 THEN NULL ELSE CAST(301 + ${hm(533, NCust - 300)} AS INT) END AS ws_ship_customer_sk",
      s"CAST(1 + ${hm(535, 5)} AS INT) AS ws_warehouse_sk",
      s"CAST(1 + ${hm(537, 20)} AS INT) AS ws_ship_mode_sk",
      s"CAST(1 + ${hm(539, 12)} AS INT) AS ws_web_site_sk",
      s"CAST(1 + ${hm(541, 30)} AS INT) AS ws_web_page_sk",
      s"CAST(1 + ${hm(543, 800)} AS INT) AS ws_ship_addr_sk",
      s"CAST(1 + ${hm(545, 120)} AS INT) AS ws_ship_hdemo_sk",
      s"CAST(${hm(547, 500)} AS DOUBLE) AS ws_ext_ship_cost",
      s"CAST(CASE WHEN id BETWEEN 2000 AND 2199 THEN 150 ELSE ${hm(549, 1300)} - 300 END AS DOUBLE) AS ws_net_profit",
      s"CAST(1 + ${hm(551, 80)} AS DOUBLE) AS ws_wholesale_cost",
      s"CAST(1 + ${hm(553, 50)} AS INT) AS ws_promo_sk",
      s"CAST(${hm(555, 86400)} AS INT) AS ws_sold_time_sk")
      .selectExpr("*",
        s"CAST(ws_sold_date_sk + 1 + ${hm(557, 130)} AS INT) AS ws_ship_date_sk")
      .drop("id"))

    // full item coverage (q37/q82 filter arbitrary manufact ids),
    // 2 warehouses, biweekly snapshots: 4000 * 2 * 131 rows. Quantities
    // are small bases with a +400 spike every ~11th row: spike groups
    // have stdev/mean > 1 (q39), spike rows land in 100..500 (q37/q82).
    write("inventory", spark.range(NItem * 2 * 131).selectExpr(
      s"CAST($DskBase + (id DIV ${NItem * 2}) * 14 AS INT) AS inv_date_sk",
      s"CAST(1 + pmod(id, $NItem) AS INT) AS inv_item_sk",
      s"CAST(1 + pmod(id DIV $NItem, 2) AS INT) AS inv_warehouse_sk",
      s"""CAST(${hm(601, 20)}
        | + CASE WHEN ${hm(603, 11)} = 0 THEN 400 ELSE 0 END
        | AS DOUBLE) AS inv_quantity_on_hand""".stripMargin))

    // returns derive FROM the written store_sales rows, so every join
    // column (ticket, item, customer, store) is consistent by
    // construction: every 3rd ticket returns, 1..140 days after the
    // sale (q50's day buckets and q1's d_year=2000 both populated;
    // returns past 2002-12-31 simply find no date_dim row)
    // per-LINE hash for returns columns that vary within a ticket/order
    // (reason, quantity) — the ticket-keyed hashes above deliberately
    // agree across a ticket's lines
    // two-stage: fold the composite key into the prime field BEFORE the
    // salted multiplier — at factor 10 the raw key reaches ~7e9 and the
    // single-stage product overflowed Long under ANSI (the multiplier is
    // also capped so folded-key × multiplier stays < 2^62 at any factor)
    def lh(key: String, salt: Int): String =
      s"pmod(pmod($key, 2147483647) * ${1103515245L + salt * 1235789L} + $salt, 2147483647)"
    val srKey = "ss_ticket_number * 7919 + ss_item_sk"
    write("store_returns", spark.read.parquet(s"$dir/store_sales.parquet")
      .where("pmod(ss_ticket_number, 3) = 0")
      .selectExpr(
        """CAST(ss_sold_date_sk + 1
          | + pmod(pmod(ss_ticket_number * 2654435761 + 17, 2147483647), 140)
          | AS INT) AS sr_returned_date_sk""".stripMargin,
        "ss_item_sk AS sr_item_sk",
        "ss_customer_sk AS sr_customer_sk",
        "ss_store_sk AS sr_store_sk",
        "ss_ticket_number AS sr_ticket_number",
        "ss_cdemo_sk AS sr_cdemo_sk",
        s"CAST(1 + pmod(${lh(srKey, 701)}, 35) AS INT) AS sr_reason_sk",
        """CAST(1 + pmod(pmod(ss_ticket_number * 1103548271 + 5, 2147483647), 300)
          | AS DOUBLE) AS sr_return_amt""".stripMargin,
        """CAST(1 + pmod(pmod(ss_ticket_number * 1103548301 + 9, 2147483647), 400)
          | AS DOUBLE) AS sr_net_loss""".stripMargin,
        // capped at the line's sold quantity: q75's catalog analog divides
        // by per-cell sums of (quantity - returned), which stay strictly
        // positive when no line over-returns (an unreturned line adds
        // >= 1), so the ANSI division can never hit a zero denominator
        s"""CAST(1 + pmod(pmod(ss_ticket_number * 1103548351 + 13, 2147483647),
          | ss_quantity) AS INT) AS sr_return_quantity""".stripMargin))

    val crKey = "cs_order_number * 7919 + cs_item_sk"
    write("catalog_returns", spark.read.parquet(s"$dir/catalog_sales.parquet")
      .where("pmod(cs_order_number, 3) = 0")
      .selectExpr(
        s"CAST(cs_sold_date_sk + 1 + pmod(${lh(crKey, 711)}, 140) AS INT) AS cr_returned_date_sk",
        "cs_item_sk AS cr_item_sk",
        "cs_order_number AS cr_order_number",
        "cs_call_center_sk AS cr_call_center_sk",
        "cs_catalog_page_sk AS cr_catalog_page_sk",
        "cs_bill_customer_sk AS cr_returning_customer_sk",
        "cs_bill_addr_sk AS cr_returning_addr_sk",
        s"CAST(1 + pmod(${lh(crKey, 713)}, cs_quantity) AS INT) AS cr_return_quantity",
        // ~1/9 of returns spike past q49's `> 10000` filter
        s"""CAST(1 + pmod(${lh(crKey, 715)}, 300)
          | + CASE WHEN pmod(${lh(crKey, 717)}, 9) = 0 THEN 12000 ELSE 0 END
          | AS DOUBLE) AS cr_return_amount""".stripMargin,
        s"CAST(1 + pmod(${lh(crKey, 719)}, 330) AS DOUBLE) AS cr_return_amt_inc_tax",
        s"CAST(1 + pmod(${lh(crKey, 721)}, 400) AS DOUBLE) AS cr_net_loss",
        s"CAST(pmod(${lh(crKey, 723)}, 200) AS DOUBLE) AS cr_refunded_cash",
        s"CAST(pmod(${lh(crKey, 725)}, 150) AS DOUBLE) AS cr_reversed_charge",
        s"CAST(pmod(${lh(crKey, 727)}, 150) AS DOUBLE) AS cr_store_credit"))

    // the q85 plant: web_sales rows 2000..2199 are orders 666..733, of
    // which the pmod-3 rule returns ~22 orders — those returns carry the
    // planted cdemo 1 ('M'/'Advanced Degree', refunded = returning) and
    // refunded addr 1 ('IN' / United States)
    val wrKey = "ws_order_number * 7919 + ws_item_sk"
    val wrPlant = "ws_order_number BETWEEN 666 AND 733"
    write("web_returns", spark.read.parquet(s"$dir/web_sales.parquet")
      .where("pmod(ws_order_number, 3) = 0")
      .selectExpr(
        s"CAST(ws_sold_date_sk + 1 + pmod(${lh(wrKey, 731)}, 140) AS INT) AS wr_returned_date_sk",
        "ws_item_sk AS wr_item_sk",
        "ws_order_number AS wr_order_number",
        "ws_web_page_sk AS wr_web_page_sk",
        "ws_bill_customer_sk AS wr_returning_customer_sk",
        "ws_bill_addr_sk AS wr_returning_addr_sk",
        s"CAST(1 + pmod(${lh(wrKey, 733)}, ws_quantity) AS INT) AS wr_return_quantity",
        s"""CAST(1 + pmod(${lh(wrKey, 735)}, 300)
          | + CASE WHEN pmod(${lh(wrKey, 737)}, 9) = 0 THEN 12000 ELSE 0 END
          | AS DOUBLE) AS wr_return_amt""".stripMargin,
        s"CAST(1 + pmod(${lh(wrKey, 739)}, 400) AS DOUBLE) AS wr_net_loss",
        s"CAST(1 + pmod(${lh(wrKey, 741)}, 100) AS DOUBLE) AS wr_fee",
        s"CAST(pmod(${lh(wrKey, 743)}, 200) AS DOUBLE) AS wr_refunded_cash",
        s"CAST(CASE WHEN $wrPlant THEN 1 ELSE 1 + pmod(${lh(wrKey, 745)}, 200) END AS INT) AS wr_refunded_cdemo_sk",
        s"CAST(CASE WHEN $wrPlant THEN 1 ELSE 1 + pmod(${lh(wrKey, 747)}, 200) END AS INT) AS wr_returning_cdemo_sk",
        s"CAST(CASE WHEN $wrPlant THEN 1 ELSE 1 + pmod(${lh(wrKey, 749)}, 800) END AS INT) AS wr_refunded_addr_sk",
        s"CAST(1 + pmod(${lh(wrKey, 751)}, 35) AS INT) AS wr_reason_sk"))
  }
}
