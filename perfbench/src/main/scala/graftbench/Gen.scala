package graftbench

import java.time.LocalDateTime
import java.util.SplittableRandom

import org.apache.spark.sql.{Row, SaveMode, SparkSession}
import org.apache.spark.sql.types._

/** Seeded generator for the engine's ten input tables, written as parquet
  * under one directory in the layout `graft.Tables` reads
  * (`<dir>/<table>.parquet`).
  *
  * Schemas and value domains follow the engine's fixture description
  * (FIXTURES.md): a TPC-H-like star (region … lineitem) plus the
  * `events`, `documents` and `embeddings` tables. Row counts scale with
  * `sf` the way the fixtures do (sf 0.01 ≈ 60k lineitem rows). Every value
  * is a pure function of (seed, table, row), so one seed always writes the
  * same bytes of data and another seed writes different data.
  */
object Gen {
  val Vocab: IndexedSeq[String] = IndexedSeq("a", "agg", "batch", "big",
    "column", "customer", "data", "fast", "filter", "group", "hash", "join",
    "key", "line", "merge", "order", "part", "query", "row", "scan", "slow",
    "small", "sort", "spark", "stream", "table", "the", "value", "vector",
    "window")
  val Langs = IndexedSeq("en", "en", "en", "zh", "es", "de", "fr")
  val EventTypes = IndexedSeq("click", "error", "purchase", "signup", "view")
  val Segments = IndexedSeq("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
  val Priorities = IndexedSeq("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
  val PartAdj = IndexedSeq("blue", "cold", "hot", "large", "new", "old", "red", "small")
  val PartNoun = IndexedSeq("anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget")
  val PartTypes = IndexedSeq("ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD")
  val Regions = IndexedSeq("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")

  val OrderDay0: LocalDateTime = LocalDateTime.of(1995, 1, 1, 0, 0)
  val OrderDays = 2404 // 1995-01-01 .. 2001-08-01
  val EventT0: LocalDateTime = LocalDateTime.of(2024, 1, 1, 0, 0)
  val EventSpanSec: Long = 30L * 86400

  /** Table sizes at scale factor `sf`. */
  final case class Sizes(customer: Int, supplier: Int, part: Int, orders: Int,
      events: Int, documents: Int, embeddings: Int, users: Int)
  def sizes(sf: Double): Sizes = Sizes(
    customer = math.max(150, (150000 * sf).toInt),
    supplier = math.max(10, (10000 * sf).toInt),
    part = math.max(200, (200000 * sf).toInt),
    orders = math.max(1500, (1500000 * sf).toInt),
    events = math.max(1000, (1000000 * sf).toInt),
    documents = math.max(500, (50000 * sf).toInt),
    embeddings = math.max(500, (20000 * sf).toInt),
    users = math.max(15, (15000 * sf).toInt))

  /** A deterministic random stream for one (seed, table, row) triple:
    * every row is a pure function of its index, so tables generate in
    * parallel tasks and the workloads can regenerate any row driver-side. */
  def rng(seed: Long, table: String, row: Long): SplittableRandom =
    new SplittableRandom(new SplittableRandom(
      seed * 0x9E3779B97F4A7C15L ^ table.hashCode.toLong * 0xBF58476D1CE4E5B9L ^ row
    ).nextLong())

  private def money(r: SplittableRandom, lo: Double, hi: Double): Double =
    math.round((lo + r.nextDouble() * (hi - lo)) * 100) / 100.0

  // ---- rows ------------------------------------------------------------

  def orderRow(seed: Long, s: Sizes, k: Long): Row = {
    val r = rng(seed, "orders", k)
    Row(k, r.nextInt(s.customer).toLong, "FOP".charAt(r.nextInt(3)).toString,
      money(r, 1000, 500000), OrderDay0.plusDays(r.nextInt(OrderDays).toLong),
      Priorities(r.nextInt(Priorities.size)))
  }

  /** The 1–7 lines of one order, shipped 1–120 days after its order date;
    * (l_orderkey, l_linenumber) is unique. */
  def lineRows(seed: Long, s: Sizes, order: Row): Seq[Row] = {
    val ok = order.getLong(0)
    val od = order.getAs[LocalDateTime](4)
    val r = rng(seed, "lineitem", ok)
    (1 to 1 + r.nextInt(7)).map { ln =>
      val qty = (1 + r.nextInt(50)).toDouble
      val price = math.round(qty * (900 + r.nextInt(1100)) * 100 + r.nextInt(100)) / 100.0
      Row(ok, r.nextInt(s.part).toLong, r.nextInt(s.supplier).toLong, ln, qty, price,
        r.nextInt(11) / 100.0, r.nextInt(9) / 100.0, "ANR".charAt(r.nextInt(3)).toString,
        "FO".charAt(r.nextInt(2)).toString, od.plusDays(1L + r.nextInt(120)))
    }
  }

  /** Events are evenly spread over 30 days with jitter below one slot,
    * so `ts` increases with `event_id`; a tenth of the users get a
    * quarter of the events (skew, as in the fixtures). */
  def eventRow(seed: Long, s: Sizes, i: Long): Row = {
    val r = rng(seed, "events", i)
    val slot = EventSpanSec * 1000000L / s.events
    val micros = i * slot + (r.nextDouble() * slot).toLong
    val u = if (r.nextInt(4) == 0) r.nextInt(math.max(1, s.users / 10)) else r.nextInt(s.users)
    Row(i, EventT0.plusNanos(micros * 1000), u.toLong, EventTypes(r.nextInt(5)),
      math.round(math.exp(r.nextGaussian() * 1.0 + 3.5) * 100) / 100.0,
      s"""{"k": ${r.nextInt(100)}}""")
  }

  /** Tokens of document `i`: 10–99 words from [[Vocab]]; one document in
    * twenty is a near-duplicate of an earlier one (one token changed,
    * `dup` appended), so the dedup operators have something to find. */
  def docTokens(seed: Long, i: Long): Array[String] = {
    val r = rng(seed, "documents", i)
    if (i > 0 && r.nextInt(20) == 0) {
      val src = docTokens(seed, r.nextLong(i)).clone()
      src(r.nextInt(src.length)) = Vocab(r.nextInt(Vocab.size))
      src :+ "dup"
    } else Array.fill(10 + r.nextInt(90))(Vocab(r.nextInt(Vocab.size)))
  }

  def documentRow(seed: Long, i: Long): Row = {
    val r = rng(seed, "doc-meta", i)
    val text = docTokens(seed, i).mkString(" ")
    Row(i, text, Langs(r.nextInt(Langs.size)), s"src${r.nextInt(20)}", text.length.toLong)
  }

  /** Unit vectors scattered around ten seeded label centres. */
  def embeddingRow(seed: Long, i: Long): Row = {
    val cr = rng(seed, "centres", 0)
    val centres = Array.fill(10, 64)(cr.nextGaussian())
    val r = rng(seed, "embeddings", i)
    val label = r.nextInt(10)
    val v = Array.tabulate(64)(d => centres(label)(d) + 1.5 * r.nextGaussian())
    val norm = math.sqrt(v.map(x => x * x).sum)
    Row(i, v.map(x => (x / norm).toFloat).toSeq, label)
  }

  // ---- schemas ---------------------------------------------------------

  private def st(fs: (String, DataType)*): StructType =
    StructType(fs.map { case (n, t) => StructField(n, t, nullable = true) })
  val OrdersSchema: StructType = st("o_orderkey" -> LongType, "o_custkey" -> LongType,
    "o_orderstatus" -> StringType, "o_totalprice" -> DoubleType,
    "o_orderdate" -> TimestampNTZType, "o_orderpriority" -> StringType)
  val LineitemSchema: StructType = st("l_orderkey" -> LongType, "l_partkey" -> LongType,
    "l_suppkey" -> LongType, "l_linenumber" -> IntegerType, "l_quantity" -> DoubleType,
    "l_extendedprice" -> DoubleType, "l_discount" -> DoubleType, "l_tax" -> DoubleType,
    "l_returnflag" -> StringType, "l_linestatus" -> StringType,
    "l_shipdate" -> TimestampNTZType)
  val EventsSchema: StructType = st("event_id" -> LongType, "ts" -> TimestampNTZType,
    "user_id" -> LongType, "event_type" -> StringType, "value" -> DoubleType,
    "props" -> StringType)
  val DocumentsSchema: StructType = st("doc_id" -> LongType, "text" -> StringType,
    "lang" -> StringType, "source" -> StringType, "n_chars" -> LongType)
  val EmbeddingsSchema: StructType = st("vec_id" -> LongType,
    "embedding" -> ArrayType(FloatType, containsNull = true), "label" -> IntegerType)

  /** Write rows `0 until n` of `row` as parquet under `path`, generated
    * in parallel tasks. */
  def write(spark: SparkSession, n: Long, schema: StructType, path: String)(
      row: Long => Row): Unit =
    writeRows(spark, spark.sparkContext.range(0L, n, 1L, 4).map(row), schema, path)

  def writeRows(spark: SparkSession, rows: org.apache.spark.rdd.RDD[Row],
      schema: StructType, path: String): Unit =
    spark.createDataFrame(rows, schema).write.mode(SaveMode.Overwrite).parquet(path)

  val RegionSchema: StructType = st("r_regionkey" -> IntegerType, "r_name" -> StringType)
  val NationSchema: StructType =
    st("n_nationkey" -> IntegerType, "n_name" -> StringType, "n_regionkey" -> IntegerType)
  val CustomerSchema: StructType = st("c_custkey" -> LongType, "c_name" -> StringType,
    "c_nationkey" -> IntegerType, "c_acctbal" -> DoubleType, "c_mktsegment" -> StringType)
  val SupplierSchema: StructType = st("s_suppkey" -> LongType, "s_name" -> StringType,
    "s_nationkey" -> IntegerType, "s_acctbal" -> DoubleType)
  val PartSchema: StructType = st("p_partkey" -> LongType, "p_name" -> StringType,
    "p_brand" -> StringType, "p_type" -> StringType, "p_size" -> IntegerType,
    "p_retailprice" -> DoubleType)

  /** Run independent writes concurrently: each is a small job that leaves
    * most cores idle. */
  def concurrently(writes: (() => Unit)*): Unit = {
    val pool = java.util.concurrent.Executors.newFixedThreadPool(writes.size)
    try writes.map(w => pool.submit(new Runnable { def run(): Unit = w() })).foreach(_.get())
    finally pool.shutdown()
  }

  /** Write all ten tables for `seed` at scale `sf` under `dir`. */
  def writeAll(spark: SparkSession, seed: Long, sf: Double, dir: String): Sizes = {
    val s = sizes(sf)
    concurrently(() => write(spark, Regions.size, RegionSchema, s"$dir/region.parquet")(i =>
      Row(i.toInt, Regions(i.toInt))),
    () => write(spark, 25, NationSchema, s"$dir/nation.parquet")(i =>
      Row(i.toInt, s"NATION_$i", (i % 5).toInt)),
    () => write(spark, s.customer, CustomerSchema, s"$dir/customer.parquet") { i =>
      val r = rng(seed, "customer", i)
      Row(i, f"Customer#$i%09d", r.nextInt(25), money(r, -999, 9999), Segments(r.nextInt(5)))
    },
    () => write(spark, s.supplier, SupplierSchema, s"$dir/supplier.parquet") { i =>
      val r = rng(seed, "supplier", i)
      Row(i, f"Supplier#$i%09d", r.nextInt(25), money(r, -999, 9999))
    },
    () => write(spark, s.part, PartSchema, s"$dir/part.parquet") { i =>
      val r = rng(seed, "part", i)
      Row(i, s"${PartAdj(r.nextInt(8))} ${PartNoun(r.nextInt(8))}",
        s"Brand#${1 + r.nextInt(25)}", PartTypes(r.nextInt(6)), 1 + r.nextInt(50),
        900 + (i % 1000) / 10.0)
    },
    () => write(spark, s.orders, OrdersSchema, s"$dir/orders.parquet")(orderRow(seed, s, _)),
    () => writeRows(spark, spark.sparkContext.range(0L, s.orders.toLong, 1L, 4)
      .flatMap(k => lineRows(seed, s, orderRow(seed, s, k))), LineitemSchema,
      s"$dir/lineitem.parquet"),
    () => write(spark, s.events, EventsSchema, s"$dir/events.parquet")(eventRow(seed, s, _)),
    () => write(spark, s.documents, DocumentsSchema, s"$dir/documents.parquet")(documentRow(seed, _)),
    () => write(spark, s.embeddings, EmbeddingsSchema, s"$dir/embeddings.parquet")(embeddingRow(seed, _)))
    s
  }
}
