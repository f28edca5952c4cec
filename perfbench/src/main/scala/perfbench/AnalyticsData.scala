package perfbench

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Generates the ten tables the analytics queries read (the TPC-H-ish star
  * schema plus `events`, `documents` and `embeddings`), with the schemas
  * and value ranges the query families are written against.
  *
  * Every value is a hash of (row id, column, seed), so the tables depend
  * only on the seed and the scale, never on partitioning or timing.
  * `scale` = 1.0 gives 60k lineitem rows (the sf0.01 shape). */
object AnalyticsData {

  /** Sizes at scale 1.0. */
  private val base = Map(
    "customer" -> 1500, "supplier" -> 100, "part" -> 2000,
    "orders" -> 15000, "events" -> 10000, "documents" -> 500,
    "embeddings" -> 500, "users" -> 150)

  private val words = Seq("join", "hash", "row", "batch", "scan", "customer",
    "column", "filter", "small", "slow", "merge", "order", "vector", "line",
    "data", "table", "agg", "value", "key", "stream", "window", "spark", "a",
    "group", "part", "big", "sort", "query", "fast", "the")

  private def arr(xs: Seq[String]): String =
    xs.map(x => s"'$x'").mkString("array(", ",", ")")

  def generate(spark: SparkSession, dir: String, seed: Long,
      scale: Double): Unit = {
    def n(t: String): Long = math.max(1L, math.round(base(t) * scale))
    val nCust = n("customer"); val nSupp = n("supplier"); val nPart = n("part")
    val nOrd = n("orders"); val nUsers = n("users")
    // uniform in [0, 1) from (row id, column salt)
    def u(c: Int): String =
      s"(pmod(xxhash64(id, ${seed}L, $c), 1000000007) / 1000000007.0)"
    def pick(xs: Seq[String], c: Int): String =
      s"element_at(${arr(xs)}, 1 + cast(${u(c)} * ${xs.size} as int))"
    def range(rows: Long): DataFrame = spark.range(0, rows, 1, 4).toDF()
    def write(name: String, df: DataFrame): Unit =
      df.coalesce(1).write.mode("overwrite").parquet(s"$dir/$name.parquet")

    write("region", range(5).selectExpr("cast(id as int) r_regionkey",
      s"element_at(${arr(Seq("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"))}, cast(id as int) + 1) r_name"))
    write("nation", range(25).selectExpr("cast(id as int) n_nationkey",
      "concat('NATION_', id) n_name", "cast(id % 5 as int) n_regionkey"))
    write("customer", range(nCust).selectExpr("id c_custkey",
      "concat('Customer#', lpad(cast(id as string), 9, '0')) c_name",
      s"cast(${u(1)} * 25 as int) c_nationkey",
      s"round(-999.99 + ${u(2)} * 10999.98, 2) c_acctbal",
      pick(Seq("HOUSEHOLD", "MACHINERY", "AUTOMOBILE", "FURNITURE", "BUILDING"), 3) + " c_mktsegment"))
    write("supplier", range(nSupp).selectExpr("id s_suppkey",
      "concat('Supplier#', lpad(cast(id as string), 9, '0')) s_name",
      s"cast(${u(1)} * 25 as int) s_nationkey",
      s"round(-999.99 + ${u(2)} * 10999.98, 2) s_acctbal"))
    write("part", range(nPart).selectExpr("id p_partkey",
      s"concat(${pick(Seq("red", "small", "hot", "old", "large", "blue", "cold", "new"), 1)}, ' ', " +
        s"${pick(Seq("plate", "widget", "ring", "rod", "gizmo", "bolt", "gear", "anvil"), 2)}) p_name",
      s"concat('Brand#', 1 + cast(${u(3)} * 25 as int)) p_brand",
      pick(Seq("SMALL", "MEDIUM", "ECONOMY", "STANDARD", "LARGE", "PROMO"), 4) + " p_type",
      s"1 + cast(${u(5)} * 50 as int) p_size",
      "round(900 + (id % 1000) / 10.0, 2) p_retailprice"))
    val orders = range(nOrd).selectExpr("id o_orderkey",
      s"cast(${u(1)} * $nCust as bigint) o_custkey",
      pick(Seq("F", "O", "P"), 2) + " o_orderstatus",
      s"round(1000 + ${u(3)} * 499000, 2) o_totalprice",
      s"cast(date_add(date'1995-01-01', cast(${u(4)} * 2404 as int)) as timestamp) o_orderdate",
      pick(Seq("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"), 5) + " o_orderpriority",
      s"1 + cast(${u(6)} * 7 as int) n_lines")
    write("orders", orders.drop("n_lines"))
    // lineitem: 1..7 lines per order (about 4), keyed by (order, line)
    val li = orders.selectExpr("o_orderkey", "o_orderdate",
        "explode(sequence(1, n_lines)) l_linenumber")
      .selectExpr("o_orderkey * 8 + l_linenumber id", "o_orderkey l_orderkey",
        "o_orderdate", "l_linenumber")
    write("lineitem", li.selectExpr("l_orderkey",
      s"cast(${u(1)} * $nPart as bigint) l_partkey",
      s"cast(${u(2)} * $nSupp as bigint) l_suppkey",
      "cast(l_linenumber as int) l_linenumber",
      s"cast(1 + cast(${u(3)} * 50 as int) as double) l_quantity",
      s"round(900 + ${u(4)} * 104000, 2) l_extendedprice",
      s"cast(cast(${u(5)} * 11 as int) as double) / 100 l_discount",
      s"cast(cast(${u(6)} * 9 as int) as double) / 100 l_tax",
      pick(Seq("A", "N", "R"), 7) + " l_returnflag",
      pick(Seq("F", "O"), 8) + " l_linestatus",
      s"cast(date_add(cast(o_orderdate as date), cast(${u(9)} * 120 as int)) as timestamp) l_shipdate"))
    // events: ordered in time over 30 days, JSON props
    val nEv = n("events")
    val stepUs = 30L * 86400L * 1000000L / nEv
    write("events", range(nEv).selectExpr("id event_id",
      s"timestamp_micros(1704067200000000 + id * $stepUs + cast(${u(1)} * $stepUs as bigint)) ts",
      s"cast(${u(2)} * $nUsers as bigint) user_id",
      pick(Seq("click", "signup", "error", "view", "purchase"), 3) + " event_type",
      s"round(0.01 - ln(1 - ${u(4)}) * 50, 2) value",
      s"concat('{\"k\": ', cast(${u(5)} * 100 as int), '}') props"))
    // documents: bag-of-words text; one in 50 repeats its predecessor's
    // text exactly (the duplicate shape the dedup family looks for)
    val nDoc = n("documents")
    val len = s"pmod(xxhash64(tid, ${seed}L, 1), 80)"
    val text = s"concat_ws(' ', transform(sequence(1, 10 + cast($len as int)), " +
      s"i -> element_at(${arr(words)}, 1 + cast(pmod(xxhash64(tid, ${seed}L, i), ${words.size}) as int))))"
    write("documents", range(nDoc)
      .selectExpr("id", s"if(id % 50 = 49, id - 1, id) tid", s"${u(2)} ul")
      .selectExpr("id doc_id", s"$text text",
        "case when ul < 0.44 then 'en' when ul < 0.58 then 'fr' " +
          "when ul < 0.72 then 'zh' when ul < 0.86 then 'de' else 'es' end lang",
        "concat('src', id % 20) source")
      .selectExpr("doc_id", "text", "lang", "source", "cast(length(text) as bigint) n_chars"))
    // embeddings: 64-d unit vectors (Box-Muller normals), 10 labels
    val gauss = s"sqrt(-2 * ln(1 - pmod(xxhash64(id, ${seed}L, 100 + i), 1000000007) / 1000000007.0)) * " +
      s"cos(2 * pi() * pmod(xxhash64(id, ${seed}L, 200 + i), 1000000007) / 1000000007.0)"
    write("embeddings", range(n("embeddings"))
      .selectExpr("id", s"transform(sequence(1, 64), i -> $gauss) v")
      .selectExpr("id vec_id",
        "transform(v, x -> cast(x / sqrt(aggregate(v, 0D, (a, y) -> a + y * y)) as float)) embedding",
        s"cast(${u(3)} * 10 as int) label"))
  }
}
