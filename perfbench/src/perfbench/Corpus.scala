package perfbench

import java.time.LocalDateTime

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.types._

/** The curation workload's input tables, in the schemas graft's query
  * registry reads (`region nation customer supplier part orders lineitem
  * events documents embeddings`, one parquet file each).
  *
  * Documents are 8-100 words from a 30-word vocabulary; 5 % repeat an
  * earlier document with one extra word (near duplicates) and 3 % carry
  * an e-mail address or phone number. Embeddings are 64-d unit vectors
  * around 10 label centroids. `scale` 1.0 is 60 000 line items and
  * 2 000 documents.
  */
object Corpus {

  private val Words = ("the a data row column table join hash sort merge filter group agg key " +
    "value window batch stream scan vector query spark part line order customer fast slow big small")
    .split(" ")

  def write(spark: SparkSession, dir: String, seed: Long, scale: Double): Unit = {
    val rnd = new scala.util.Random(seed)
    def n(base: Int) = math.max(1, (base * scale).toInt)
    def money(lo: Double, hi: Double) = math.round((lo + rnd.nextDouble() * (hi - lo)) * 100) / 100.0
    def day(from: LocalDateTime, days: Int) = from.plusDays(rnd.nextInt(days).toLong)
    def save(name: String, schema: String, rows: Seq[Row]): Unit =
      spark.createDataFrame(spark.sparkContext.parallelize(rows, 1), StructType.fromDDL(schema))
        .write.mode("overwrite").parquet(s"$dir/$name.parquet")

    val regions = Seq("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")
    save("region", "r_regionkey INT, r_name STRING", regions.indices.map(i => Row(i, regions(i))))
    save("nation", "n_nationkey INT, n_name STRING, n_regionkey INT",
      (0 until 25).map(i => Row(i, s"NATION_$i", i % 5)))

    val nCust = n(1500)
    val segments = Seq("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
    save("customer", "c_custkey BIGINT, c_name STRING, c_nationkey INT, c_acctbal DOUBLE, c_mktsegment STRING",
      (0 until nCust).map(i => Row(i.toLong, f"Customer#$i%09d", rnd.nextInt(25),
        money(-999, 9999), segments(rnd.nextInt(5)))))
    val nSupp = n(100)
    save("supplier", "s_suppkey BIGINT, s_name STRING, s_nationkey INT, s_acctbal DOUBLE",
      (0 until nSupp).map(i => Row(i.toLong, f"Supplier#$i%09d", rnd.nextInt(25), money(-999, 9999))))
    val nPart = n(2000)
    val adjs = Seq("small", "red", "blue", "hot", "cold", "green", "shiny", "old")
    val nouns = Seq("ring", "widget", "bolt", "gear", "gizmo", "nut", "pipe", "valve")
    val types = Seq("ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD")
    save("part", "p_partkey BIGINT, p_name STRING, p_brand STRING, p_type STRING, p_size INT, p_retailprice DOUBLE",
      (0 until nPart).map(i => Row(i.toLong, s"${adjs(rnd.nextInt(8))} ${nouns(rnd.nextInt(8))}",
        s"Brand#${1 + rnd.nextInt(25)}", types(rnd.nextInt(6)), 1 + rnd.nextInt(50), money(900, 1000))))

    val nOrders = n(15000)
    val epoch = LocalDateTime.of(1995, 1, 1, 0, 0)
    val prios = Seq("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
    val orderDates = Array.fill(nOrders)(day(epoch, 2400))
    save("orders", "o_orderkey BIGINT, o_custkey BIGINT, o_orderstatus STRING, o_totalprice DOUBLE, " +
      "o_orderdate TIMESTAMP_NTZ, o_orderpriority STRING",
      (0 until nOrders).map(i => Row(i.toLong, rnd.nextInt(nCust).toLong, Seq("F", "O", "P")(rnd.nextInt(3)),
        money(1000, 500000), orderDates(i), prios(rnd.nextInt(5)))))
    val lines = (0 until nOrders).flatMap { o =>
      (1 to 1 + rnd.nextInt(7)).map { ln =>
        val qty = (1 + rnd.nextInt(50)).toDouble
        Row(o.toLong, rnd.nextInt(nPart).toLong, rnd.nextInt(nSupp).toLong, ln, qty,
          math.round(qty * money(900, 2100) * 100) / 100.0, rnd.nextInt(11) / 100.0,
          rnd.nextInt(9) / 100.0, Seq("A", "N", "R")(rnd.nextInt(3)), Seq("F", "O")(rnd.nextInt(2)),
          orderDates(o).plusDays(1L + rnd.nextInt(120)))
      }
    }
    save("lineitem", "l_orderkey BIGINT, l_partkey BIGINT, l_suppkey BIGINT, l_linenumber INT, " +
      "l_quantity DOUBLE, l_extendedprice DOUBLE, l_discount DOUBLE, l_tax DOUBLE, " +
      "l_returnflag STRING, l_linestatus STRING, l_shipdate TIMESTAMP_NTZ", lines)

    val nEvents = n(10000)
    val jan = LocalDateTime.of(2024, 1, 1, 0, 0)
    val eventTypes = Seq("click", "error", "purchase", "signup", "view")
    val times = Array.fill(nEvents)(rnd.nextLong(30L * 86400L * 1000000L)).sorted
    save("events", "event_id BIGINT, ts TIMESTAMP_NTZ, user_id BIGINT, event_type STRING, value DOUBLE, props STRING",
      (0 until nEvents).map(i => Row(i.toLong, jan.plusNanos(times(i) * 1000L), rnd.nextInt(150).toLong,
        eventTypes(rnd.nextInt(5)), money(0.01, 490), s"""{"k": ${rnd.nextInt(100)}}""")))

    val nDocs = n(2000)
    val langs = Seq("en", "en", "de", "es", "fr", "zh")
    val texts = new Array[String](nDocs)
    for (i <- 0 until nDocs) {
      texts(i) =
        if (i > 20 && rnd.nextDouble() < 0.05) texts(rnd.nextInt(i)) + " dup"
        else {
          val body = Seq.fill(8 + rnd.nextInt(93))(Words(rnd.nextInt(Words.length))).mkString(" ")
          rnd.nextInt(100) match {
            case 0 => s"$body contact user${rnd.nextInt(1000)}@example.com"
            case 1 => s"$body call 555-${100 + rnd.nextInt(900)}-${1000 + rnd.nextInt(9000)}"
            case 2 => s"$body ip 10.0.${rnd.nextInt(256)}.${rnd.nextInt(256)}"
            case _ => body
          }
        }
    }
    save("documents", "doc_id BIGINT, text STRING, lang STRING, source STRING, n_chars BIGINT",
      (0 until nDocs).map(i => Row(i.toLong, texts(i), langs(rnd.nextInt(langs.size)),
        s"src${i % 20}", texts(i).length.toLong)))

    val nVec = n(1000)
    val centroids = Array.fill(10, 64)(rnd.nextGaussian())
    save("embeddings", "vec_id BIGINT, embedding ARRAY<FLOAT>, label INT",
      (0 until nVec).map { i =>
        val label = rnd.nextInt(10)
        val v = centroids(label).map(_ + 0.8 * rnd.nextGaussian())
        val norm = math.sqrt(v.map(x => x * x).sum)
        Row(i.toLong, v.map(x => (x / norm).toFloat).toSeq, label)
      })
  }
}
