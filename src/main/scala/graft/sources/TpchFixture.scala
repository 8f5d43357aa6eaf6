package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Deterministic full-schema TPC-H fixture for the verbatim-query track
  * (`queries/TpchVerbatim.scala`) — the reference's PRIMARY golden suite
  * (/root/reference/extension/tpch/dbgen/queries/q01.sql–q22.sql,
  * answers under extension/tpch/dbgen/answers/).
  *
  * The driver's testdata drops partsupp, l_commitdate / l_receiptdate /
  * l_shipmode / l_shipinstruct, o_comment, and phones, so the 22 texts
  * could previously only run as adaptations. This fixture carries the
  * COMPLETE dbgen schema (all 8 tables, every column the 22 queries
  * touch) and is generated with the same aliasing-free recipe proven by
  * [[TpcdsFixture]]: every draw goes through a salted per-column
  * multiplier into mod 2^31-1 before the small range modulus, so no
  * derived column couples with another (see TpcdsFixture's scaladoc for
  * the three observed aliasing classes that recipe kills).
  *
  * Exactness design, so the verbatim (round-free) texts hash-compare
  * clean between Spark and the DuckDB oracle:
  *  - Money columns are INTEGER-VALUED DOUBLES; l_discount and l_tax are
  *    multiples of 1/64 (binary-exact). Every TPC-H money expression —
  *    price*(1-disc), price*(1-disc)*(1+tax), price*disc,
  *    cost*qty — is then exactly representable with <= 12 fractional
  *    bits, and sums of such values below 2^53 are exact in ANY
  *    accumulation order, so both engines agree bit-for-bit. Derived
  *    divisions (q8 mkt_share, q14 promo %, q17 /7.0, q11 * 0.0001,
  *    q17 0.2*avg) divide IDENTICAL exact doubles — IEEE gives both
  *    engines the identical quotient. l_discount draws 0..6/64, so q6's
  *    BETWEEN 0.05 AND 0.07 selects exactly the 4/64 = 0.0625 arm.
  *  - Dates span 1992-01-01..1998-08-02 (dbgen's order-date window), so
  *    the queries' literal constants select realistic slices.
  *  - l_suppkey is one of its part's four partsupp suppliers BY THE SAME
  *    FORMULA used to generate partsupp (supplier i of part p =
  *    1 + (hash(p) + i*25) mod 100), so q9's
  *    ps_partkey=l_partkey AND ps_suppkey=l_suppkey inner join never
  *    drops lines and each part's four suppliers are distinct.
  *  - Plants (verified non-empty by TpchVerbatimSpec): parts 100-107 are
  *    Brand#23 / MED BOX / size 7 (q17, q19 arm 2), 110-117 Brand#12 /
  *    SM CASE / size 3 (q19 arm 1), 120-127 Brand#34 / LG PACK /
  *    size 12 (q19 arm 3); orders 1-8 carry seven lines of quantity
  *    44..50 (sum 329 > q18's HAVING 300); suppliers 10-12 are CANADA
  *    (q20), 20-23 SAUDI ARABIA (q21), 30-31 GERMANY (q11), 40-41
  *    FRANCE (q7), 7 and 42 carry the q16 Customer..Complaints comment;
  *    customers whose custkey ≡ 0 (mod 3) never place orders (dbgen's
  *    own rule — q22's NOT EXISTS population).
  */
object TpchFixture {
  val tables: Seq[String] = Seq("region", "nation", "supplier", "part",
    "partsupp", "customer", "orders", "lineitem")

  /** Stable per-JVM output dir (same convention as TpcdsFixture). */
  val dir: String =
    s"${System.getProperty("java.io.tmpdir")}/graft_tpch_${
      java.util.UUID.randomUUID().toString.take(8)}"

  private val NSupp = 100L
  private val NPart = 2000L
  private val NCust = 1500L
  private val NOrd = 15000L
  // o_orderdate ∈ 1992-01-01 + 0..2405 (last = 1998-08-02, like dbgen)
  private val NDates = 2406L

  /** Salted hash of the row id through a large prime (TpcdsFixture's
    * aliasing-free recipe: per-salt multiplier, then the range mod).
    */
  private def kh(key: String, salt: Int): String =
    s"pmod(($key) * ${1103515245L + salt * 12820163L} + $salt, 2147483647)"
  private def khm(key: String, salt: Int, range: Long): String =
    s"pmod(${kh(key, salt)}, $range)"
  private def h(salt: Int): String = kh("id", salt)
  private def hm(salt: Int, range: Long): String = khm("id", salt, range)

  /** Supplier arm i (0..3) of part p — SHARED between partsupp and
    * lineitem so every (l_partkey, l_suppkey) pair exists in partsupp.
    * The stride 25 makes a part's four suppliers distinct mod 100.
    */
  private def suppOf(p: String, i: String, nSupp: Long): String =
    s"CAST(1 + pmod(pmod(($p) * 741103597 + 11, 2147483647) + ($i) * 25, $nSupp) AS INT)"

  /** Part unit price — SHARED between part.p_retailprice and
    * lineitem.l_extendedprice (= quantity * unit, dbgen's own rule).
    */
  private def unitPriceOf(p: String): String =
    s"(900 + pmod(pmod(($p) * 982451653 + 7, 2147483647), 1101))"

  /** Order date day-offset — SHARED between orders and lineitem (ship/
    * commit/receipt dates are order-date plus bounded offsets).
    */
  private def odayOf(ok: String): String = khm(ok, 801, NDates)

  // standard TPC-H nation table: (name, regionkey), nationkey = index
  private val nations: Seq[(String, Int)] = Seq(
    "ALGERIA" -> 0, "ARGENTINA" -> 1, "BRAZIL" -> 1, "CANADA" -> 1,
    "EGYPT" -> 4, "ETHIOPIA" -> 0, "FRANCE" -> 3, "GERMANY" -> 3,
    "INDIA" -> 2, "INDONESIA" -> 2, "IRAN" -> 4, "IRAQ" -> 4,
    "JAPAN" -> 2, "JORDAN" -> 4, "KENYA" -> 0, "MOROCCO" -> 0,
    "MOZAMBIQUE" -> 0, "PERU" -> 1, "CHINA" -> 2, "ROMANIA" -> 3,
    "SAUDI ARABIA" -> 4, "VIETNAM" -> 2, "RUSSIA" -> 3,
    "UNITED KINGDOM" -> 3, "UNITED STATES" -> 1)

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

  /** Scaled variant for the perf pairing (`BenchBoard tpch`): `factor`× the
    * orders/lineitem rows (and proportionally customers/suppliers/parts,
    * dbgen-style) in its own dir; the correctness fixture is untouched.
    * Factor 100 ≈ dbgen SF1 row counts (6M lineitem). The 2^53
    * exactness headroom holds to factor ~400 (sum(charge)*4096 ≈
    * 9e14 at factor 100).
    */
  private val scaledDirs = scala.collection.concurrent.TrieMap.empty[Long, String]
  def ensureScaled(spark: SparkSession, factor: Long): String =
    scaledDirs.getOrElseUpdate(factor, {
      val d = s"${System.getProperty("java.io.tmpdir")}/graft_tpch_x${factor}_${
        java.util.UUID.randomUUID().toString.take(8)}"
      generate(spark, d, factor)
      d
    })

  private def generate(spark: SparkSession, dir: String, factor: Long): Unit = {
    // dbgen-proportional scale-up: factor 100 = SF1 row counts
    val nSupp = NSupp * factor
    val nPart = NPart * factor
    val nCust = NCust * factor
    val nOrd = NOrd * factor
    def write(name: String, df: DataFrame): Unit =
    // repartition (even layout; coalesce skews unions) — cap stays 16:
    // the r14 32-file experiment measured JOB 15% worse at median
    // (task-dispatch overhead beats scan width at these walls; PERF r14)
      df.repartition(math.max(2, (2 * factor).toInt min 16))
        .write.mode("overwrite").parquet(s"$dir/$name.parquet")

    write("region", spark.range(5).selectExpr(
      "CAST(id AS INT) AS r_regionkey",
      """element_at(array('AFRICA','AMERICA','ASIA','EUROPE','MIDDLE EAST'),
        |  CAST(id + 1 AS INT)) AS r_name""".stripMargin,
      "concat('region comment ', id) AS r_comment"))

    val nationNames = nations.map("'" + _._1 + "'").mkString("array(", ",", ")")
    val nationRegions = nations.map(_._2).mkString("array(", ",", ")")
    write("nation", spark.range(25).selectExpr(
      "CAST(id AS INT) AS n_nationkey",
      s"element_at($nationNames, CAST(id + 1 AS INT)) AS n_name",
      s"CAST(element_at($nationRegions, CAST(id + 1 AS INT)) AS INT) AS n_regionkey",
      "concat('nation comment ', id) AS n_comment"))

    // nation plants: CANADA(3) q20, SAUDI ARABIA(20) q21, GERMANY(7) q11,
    // FRANCE(6) q7 (GERMANY covers the other q7 arm); suppliers 7 and 42
    // carry the q16 complaints comment
    write("supplier", spark.range(1, nSupp + 1).selectExpr(
      "CAST(id AS INT) AS s_suppkey",
      "concat('Supplier#', lpad(CAST(id AS STRING), 9, '0')) AS s_name",
      "concat('supplier address ', id) AS s_address",
      s"""CAST(CASE WHEN id IN (10, 11, 12) THEN 3
         |  WHEN id IN (20, 21, 22, 23) THEN 20
         |  WHEN id IN (30, 31) THEN 7
         |  WHEN id IN (40, 41) THEN 6
         |  ELSE ${hm(11, 25)} END AS INT) AS s_nationkey""".stripMargin,
      s"""concat(10 + CASE WHEN id IN (10, 11, 12) THEN 3
         |  WHEN id IN (20, 21, 22, 23) THEN 20
         |  WHEN id IN (30, 31) THEN 7
         |  WHEN id IN (40, 41) THEN 6
         |  ELSE ${hm(11, 25)} END,
         |  '-', 100 + ${hm(13, 900)}, '-', 100 + ${hm(15, 900)},
         |  '-', 1000 + ${hm(17, 9000)}) AS s_phone""".stripMargin,
      s"CAST(${hm(19, 11000)} - 1000 AS DOUBLE) AS s_acctbal",
      s"""CASE WHEN id IN (7, 42)
         |  THEN concat('wake up Customer slyly final Complaints ', id)
         |  ELSE concat('supplier comment ', id) END AS s_comment""".stripMargin))

    // 20 colors incl. 'forest' (q20 LIKE 'forest%') and 'green'
    // (q9 LIKE '%green%'); names are five color words
    val colors = "array('almond','antique','aquamarine','azure','beige'," +
      "'bisque','black','blanched','blue','green','forest','brown'," +
      "'burlywood','chartreuse','chocolate','coral','cornflower'," +
      "'cornsilk','cream','cyan')"
    val types1 = "array('STANDARD','SMALL','MEDIUM','LARGE','ECONOMY','PROMO')"
    val types2 = "array('ANODIZED','BURNISHED','PLATED','POLISHED','BRUSHED')"
    val types3 = "array('TIN','NICKEL','BRASS','STEEL','COPPER')"
    val cont1 = "array('SM','MED','LG','JUMBO','WRAP')"
    val cont2 = "array('CASE','BOX','BAG','JAR','PKG','PACK','CAN','DRUM')"
    // plants: 100-107 Brand#23/MED BOX/size 7 (q17, q19 arm 2),
    // 110-117 Brand#12/SM CASE/size 3 (q19 arm 1),
    // 120-127 Brand#34/LG PACK/size 12 (q19 arm 3)
    write("part", spark.range(1, nPart + 1).selectExpr(
      "CAST(id AS INT) AS p_partkey",
      s"""concat(element_at($colors, CAST(1 + ${hm(21, 20)} AS INT)), ' ',
         |  element_at($colors, CAST(1 + ${hm(23, 20)} AS INT)), ' ',
         |  element_at($colors, CAST(1 + ${hm(25, 20)} AS INT)), ' ',
         |  element_at($colors, CAST(1 + ${hm(27, 20)} AS INT)), ' ',
         |  element_at($colors, CAST(1 + ${hm(29, 20)} AS INT)))
         |  AS p_name""".stripMargin,
      s"concat('Manufacturer#', 1 + ${hm(31, 5)}) AS p_mfgr",
      s"""CASE WHEN id BETWEEN 100 AND 107 THEN 'Brand#23'
         |  WHEN id BETWEEN 110 AND 117 THEN 'Brand#12'
         |  WHEN id BETWEEN 120 AND 127 THEN 'Brand#34'
         |  ELSE concat('Brand#', 1 + ${hm(31, 5)}, 1 + ${hm(33, 5)})
         |  END AS p_brand""".stripMargin,
      s"""concat(element_at($types1, CAST(1 + ${hm(35, 6)} AS INT)), ' ',
         |  element_at($types2, CAST(1 + ${hm(37, 5)} AS INT)), ' ',
         |  element_at($types3, CAST(1 + ${hm(39, 5)} AS INT)))
         |  AS p_type""".stripMargin,
      s"""CAST(CASE WHEN id BETWEEN 100 AND 107 THEN 7
         |  WHEN id BETWEEN 110 AND 117 THEN 3
         |  WHEN id BETWEEN 120 AND 127 THEN 12
         |  ELSE 1 + ${hm(41, 50)} END AS INT) AS p_size""".stripMargin,
      s"""CASE WHEN id BETWEEN 100 AND 107 THEN 'MED BOX'
         |  WHEN id BETWEEN 110 AND 117 THEN 'SM CASE'
         |  WHEN id BETWEEN 120 AND 127 THEN 'LG PACK'
         |  ELSE concat(element_at($cont1, CAST(1 + ${hm(43, 5)} AS INT)), ' ',
         |    element_at($cont2, CAST(1 + ${hm(45, 8)} AS INT)))
         |  END AS p_container""".stripMargin,
      s"CAST(${unitPriceOf("id")} AS DOUBLE) AS p_retailprice",
      "concat('part comment ', id) AS p_comment"))

    // four supplier arms per part via the SHARED suppOf formula
    write("partsupp", spark.range(nPart * 4)
      .selectExpr("1 + id DIV 4 AS pk", "pmod(id, 4) AS arm", "id")
      .selectExpr(
        "CAST(pk AS INT) AS ps_partkey",
        s"${suppOf("pk", "arm", nSupp)} AS ps_suppkey",
        s"CAST(1 + ${hm(51, 9999)} AS INT) AS ps_availqty",
        // wide range → q11's per-part sum(cost*qty) values are tie-free
        // with overwhelming probability (TpchVerbatimSpec asserts it)
        s"CAST(1 + ${hm(53, 100000)} AS DOUBLE) AS ps_supplycost",
        "concat('partsupp comment ', id) AS ps_comment"))

    val segs = "array('AUTOMOBILE','BUILDING','FURNITURE','MACHINERY','HOUSEHOLD')"
    write("customer", spark.range(1, nCust + 1).selectExpr(
      "CAST(id AS INT) AS c_custkey",
      "concat('Customer#', lpad(CAST(id AS STRING), 9, '0')) AS c_name",
      "concat('customer address ', id) AS c_address",
      s"CAST(${hm(61, 25)} AS INT) AS c_nationkey",
      // phone prefix = 10 + nationkey (q22's 2-char country code)
      s"""concat(10 + ${hm(61, 25)}, '-', 100 + ${hm(63, 900)}, '-',
         |  100 + ${hm(65, 900)}, '-', 1000 + ${hm(67, 9000)})
         |  AS c_phone""".stripMargin,
      s"CAST(${hm(69, 11000)} - 1000 AS DOUBLE) AS c_acctbal",
      s"element_at($segs, CAST(1 + ${hm(71, 5)} AS INT)) AS c_mktsegment",
      "concat('customer comment ', id) AS c_comment"))

    val priorities =
      "array('1-URGENT','2-HIGH','3-MEDIUM','4-NOT SPECIFIED','5-LOW')"
    write("orders", spark.range(1, nOrd + 1)
      .selectExpr("id",
        // dbgen rule: custkey ≡ 0 (mod 3) never orders (q22 NOT EXISTS)
        s"1 + ${hm(73, nCust)} AS ck0")
      .selectExpr(
        "CAST(id AS INT) AS o_orderkey",
        "CAST(CASE WHEN ck0 % 3 = 0 THEN ck0 - 1 ELSE ck0 END AS INT) AS o_custkey",
        s"element_at(array('F','O','F','O','P'), CAST(1 + ${hm(75, 5)} AS INT)) AS o_orderstatus",
        s"CAST(1000 + ${hm(77, 500000)} AS DOUBLE) AS o_totalprice",
        s"date_add(DATE '1992-01-01', CAST(${odayOf("id")} AS INT)) AS o_orderdate",
        s"element_at($priorities, CAST(1 + ${hm(79, 5)} AS INT)) AS o_orderpriority",
        s"concat('Clerk#', lpad(CAST(1 + ${hm(81, 1000)} AS STRING), 9, '0')) AS o_clerk",
        "CAST(0 AS INT) AS o_shippriority",
        // ~1/50 of comments hit q13's NOT LIKE '%special%requests%'
        s"""CASE WHEN ${hm(83, 50)} = 0
           |  THEN concat('handle special packages requests quickly ', id)
           |  ELSE concat('order comment ', id) END AS o_comment""".stripMargin))

    // lineitem: up to 7 lines per order; orders 1-8 are the q18 plant
    // (seven lines, quantity 44..50 → sum 329 > 300). Line-level draws
    // hash the LINE id, order-level context (date) hashes the order key
    // with the SAME formula the orders table used.
    val instructs =
      "array('DELIVER IN PERSON','COLLECT COD','NONE','TAKE BACK RETURN')"
    val modes = "array('REG AIR','AIR','RAIL','SHIP','TRUCK','MAIL','FOB')"
    write("lineitem", spark.range(nOrd * 7)
      .selectExpr("id", "1 + id DIV 7 AS ok", "pmod(id, 7) AS j")
      .where(s"ok <= 8 OR j < 1 + ${khm("ok", 85, 7)}")
      .selectExpr("id", "ok", "j",
        s"1 + ${hm(87, nPart)} AS pk",
        s"date_add(DATE '1992-01-01', CAST(${odayOf("ok")} AS INT)) AS odate",
        s"CASE WHEN ok <= 8 THEN 44 + j ELSE 1 + ${hm(89, 50)} END AS qty",
        s"1 + ${hm(91, 121)} AS shipoff")
      .selectExpr(
        "CAST(ok AS INT) AS l_orderkey",
        "CAST(pk AS INT) AS l_partkey",
        s"${suppOf("pk", s"pmod(${h(93)}, 4)", nSupp)} AS l_suppkey",
        "CAST(j + 1 AS INT) AS l_linenumber",
        "CAST(qty AS DOUBLE) AS l_quantity",
        s"CAST(qty * ${unitPriceOf("pk")} AS DOUBLE) AS l_extendedprice",
        // multiples of 1/64 (binary-exact): discount 0..6/64 — q6's
        // BETWEEN 0.05 AND 0.07 selects exactly 4/64 = 0.0625
        s"CAST(${hm(95, 7)} AS DOUBLE) / 64 AS l_discount",
        s"CAST(${hm(97, 9)} AS DOUBLE) / 64 AS l_tax",
        s"element_at(array('R','A','N','N'), CAST(1 + ${hm(99, 4)} AS INT)) AS l_returnflag",
        s"element_at(array('O','F'), CAST(1 + ${hm(201, 2)} AS INT)) AS l_linestatus",
        "date_add(odate, CAST(shipoff AS INT)) AS l_shipdate",
        s"date_add(odate, CAST(30 + ${hm(203, 61)} AS INT)) AS l_commitdate",
        s"date_add(odate, CAST(shipoff + 1 + ${hm(205, 30)} AS INT)) AS l_receiptdate",
        s"element_at($instructs, CAST(1 + ${hm(207, 4)} AS INT)) AS l_shipinstruct",
        s"element_at($modes, CAST(1 + ${hm(209, 7)} AS INT)) AS l_shipmode",
        "concat('line comment ', id) AS l_comment"))
  }
}
