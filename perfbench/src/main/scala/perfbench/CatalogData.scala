package perfbench

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Seeded star-schema and corpus tables for the operator catalog, with the
  * column names and types the catalog queries read. Every value is a pure
  * function of (seed, row id), so the same seed writes the same tables.
  *
  * Corpus shape: every 4th document is a near-duplicate of its predecessor
  * (about one word in eight replaced), every 25th an exact copy of an
  * earlier original up to case and whitespace, so the dedup and similarity
  * operators find real pairs.
  */
object CatalogData {

  final case class Scale(events: Long, users: Long, orders: Long, linesPerOrder: Int,
                         customers: Long, parts: Long, docs: Long, vectors: Long)

  val tables: Seq[String] = Seq("events", "lineitem", "orders", "customer", "part",
    "documents", "embeddings")

  private val vocab = ("a the data table key value row column join merge hash sort " +
    "scan filter group order batch stream window query part customer line agg " +
    "spark index shuffle partition commit snapshot offset fast slow big small").split(" ")

  def write(spark: SparkSession, seed: Long, sc: Scale, dir: String): Unit = {
    def h(tag: Int, cols: Column*): Column = xxhash64(lit(seed) +: lit(tag) +: cols: _*)
    def u(tag: Int, n: Long, cols: Column*): Column = pmod(h(tag, cols: _*), lit(n))
    def cents(tag: Int, max: Long, cols: Column*): Column =
      (u(tag, max * 100, cols: _*) / lit(100.0)).cast("double")
    def pick(tag: Int, xs: Seq[String], cols: Column*): Column =
      element_at(array(xs.map(lit): _*), (u(tag, xs.size.toLong, cols: _*) + 1).cast("int"))
    def out(name: String, df: DataFrame): Unit =
      df.coalesce(1).write.mode("overwrite").parquet(s"$dir/$name.parquet")
    val id = col("id")

    out("events", spark.range(sc.events).select(
      id.as("event_id"),
      timestamp_micros(lit(1704067200000000L) + id * 7000000L + u(1, 7000000L, id)).as("ts"),
      // squared uniform: low user ids are hot
      (pow(u(2, 1000000L, id) / lit(1e6), lit(2.0)) * lit(sc.users)).cast("long").as("user_id"),
      pick(3, Seq("click", "error", "purchase", "signup", "view"), id).as("event_type"),
      cents(4, 20, id).as("value"),
      concat(lit("{\"k\": "), u(5, 100, id).cast("string"), lit("}")).as("props")))

    out("customer", spark.range(sc.customers).select(
      id.as("c_custkey"),
      format_string("Customer#%09d", id).as("c_name"),
      u(10, 25, id).cast("int").as("c_nationkey"),
      (cents(11, 11000, id) - lit(1000.0)).as("c_acctbal"),
      pick(12, Seq("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"), id)
        .as("c_mktsegment")))

    out("part", spark.range(sc.parts).select(
      id.as("p_partkey"),
      concat_ws(" ", pick(20, Seq("red", "small", "large", "blue", "steel"), id),
        pick(21, Seq("ring", "widget", "bolt", "gear", "panel"), id)).as("p_name"),
      concat(lit("Brand#"), (u(22, 25, id) + 1).cast("string")).as("p_brand"),
      pick(23, Seq("ECONOMY", "STANDARD", "PROMO", "LARGE", "MEDIUM"), id).as("p_type"),
      (u(24, 50, id) + 1).cast("int").as("p_size"),
      (lit(900.0) + (id % 1000) / lit(10.0)).as("p_retailprice")))

    out("orders", spark.range(sc.orders).select(
      id.as("o_orderkey"),
      u(30, sc.customers * 2 / 3, id).as("o_custkey"), // a third never order
      pick(31, Seq("F", "O", "P"), id).as("o_orderstatus"),
      cents(32, 500000, id).as("o_totalprice"),
      date_add(lit("1992-01-01").cast("date"), u(33, 2400, id).cast("int"))
        .cast("timestamp").as("o_orderdate"),
      pick(34, Seq("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"), id)
        .as("o_orderpriority")))

    val lid = col("id")
    out("lineitem", spark.range(sc.orders * sc.linesPerOrder).select(
      (lid / sc.linesPerOrder).cast("long").as("l_orderkey"),
      u(40, sc.parts, lid).as("l_partkey"),
      u(41, 1000, lid).as("l_suppkey"),
      (lid % sc.linesPerOrder + 1).cast("int").as("l_linenumber"),
      (u(42, 50, lid) + 1).cast("double").as("l_quantity"),
      cents(43, 100000, lid).as("l_extendedprice"),
      (u(44, 11, lid) / lit(100.0)).as("l_discount"),
      (u(45, 9, lid) / lit(100.0)).as("l_tax"),
      pick(46, Seq("A", "N", "R"), lid).as("l_returnflag"),
      pick(47, Seq("F", "O"), lid).as("l_linestatus"),
      date_add(lit("1992-01-02").cast("date"), u(48, 2500, lid).cast("int"))
        .cast("timestamp").as("l_shipdate")))

    // documents: word i of doc d comes from its source doc: the previous
    // original for an exact copy, d - 1 for a near-duplicate, which also
    // replaces one word in eight
    val vocabArr = array(vocab.map(lit): _*)
    val exactDup = id % 25 === 24
    val nearDup = !exactDup && id % 4 === 3
    val src = when(exactDup, when((id - 1) % 4 === 3, id - 2).otherwise(id - 1))
      .when(nearDup, id - 1).otherwise(id)
    val nWords = u(50, 60, src) + 20
    val words = transform(sequence(lit(1L), nWords), i =>
      element_at(vocabArr, (when(nearDup && u(51, 8, id, i) === 0, u(52, vocab.length, id, i))
        .otherwise(u(53, vocab.length, src, i)) + 1).cast("int")))
    val text0 = array_join(words, " ")
    val text = when(exactDup, concat(lit("  "), upper(text0), lit(" \n"))).otherwise(text0)
    out("documents", spark.range(sc.docs).select(id.as("doc_id"), text.as("text"))
      .select(col("doc_id"), col("text"),
        pick(54, Seq("en", "en", "en", "de", "fr"), col("doc_id")).as("lang"),
        concat(lit("src"), u(55, 8, col("doc_id")).cast("string")).as("source"),
        length(col("text")).cast("long").as("n_chars")))

    out("embeddings", spark.range(sc.vectors).select(
      id.as("vec_id"),
      transform(sequence(lit(0L), lit(63L)), i =>
        ((u(60, 20001, when(id % 3 === 1, id - 1).otherwise(id), i) - lit(10000)) / lit(40000.0)
          + (u(61, 2001, id, i) - lit(1000)) / lit(100000.0)).cast("float")).as("embedding"),
      u(62, 10, id).cast("int").as("label")))
  }
}
