package perfbench

import java.nio.file.{Files, Path}
import java.sql.Timestamp
import java.util.SplittableRandom

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.types._

/** The batch workloads' input tables, in the shape `graft.Tables` reads:
  * a TPC-H-like star schema plus `events`, `documents` and `embeddings`,
  * one single-file parquet table each.
  *
  * The tables come from a fixed data seed, not from the run's seed: the
  * expected query outputs in `expected.tsv` are fingerprints of these
  * exact tables. The run seed only orders the queries.
  *
  * Row counts follow the scale factor `sf` (lineitem = 6M x sf). The text
  * and vector tables have a floor (`docs`, `vecs`) so the dedup and
  * iterative operators have work at small sf. About one document in ten
  * is an edited copy of another, so the near-duplicate operators find
  * pairs.
  */
object BatchData {
  val dataSeed = 42L
  /** Bumped whenever the generator's output changes; part of the cache key. */
  val version = 1

  final case class Scale(sf: Double, docs: Int, vecs: Int) {
    def key: String = f"sf$sf%.4f-d$docs-v$vecs-g$version"
    def rows(base: Double): Int = math.max(1, math.round(base * sf).toInt)
  }

  private val vocab = ("a agg batch big column customer data dup fast filter group " +
    "hash join key line merge order part query row scan slow small sort spark " +
    "stream table the value vector window").split(' ')
  private val langs = Array("en", "de", "fr", "es", "zh")
  private val segments = Array("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
  private val priorities = Array("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
  private val partAdj = Array("blue", "red", "hot", "cold", "small", "large", "old", "new")
  private val partNoun = Array("bolt", "gear", "anvil", "ring", "widget")
  private val partTypes = Array("ECONOMY", "STANDARD", "PROMO", "LARGE", "MEDIUM")
  private val eventTypes = Array("signup", "click", "view", "purchase", "error")
  private val orderStatus = Array("F", "O", "P")
  private val returnFlags = Array("A", "N", "R")
  private val lineStatus = Array("O", "F")
  private val regions = Array("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")

  private val day = 86400000L
  private val orderEpoch = Timestamp.valueOf("1995-01-01 00:00:00").getTime
  private val eventEpoch = Timestamp.valueOf("2024-01-01 00:00:00").getTime

  private def cents(r: SplittableRandom, lo: Double, hi: Double): Double =
    math.round((lo + r.nextDouble() * (hi - lo)) * 100) / 100.0

  /** Ensure the tables for `scale` exist under `root`; returns their
    * directory. Tables are written once per scale and reused, since they
    * never depend on the run seed. */
  def ensure(spark: SparkSession, root: Path, scale: Scale): String = {
    val dir = root.resolve(scale.key)
    val done = dir.resolve("_COMPLETE")
    if (!Files.exists(done)) {
      write(spark, dir.toString, scale)
      Files.write(done, Array.emptyByteArray)
    }
    dir.toString
  }

  private def write(spark: SparkSession, dir: String, s: Scale): Unit = {
    def save(name: String, schema: StructType, rows: Seq[Row]): Unit =
      spark.createDataFrame(rows.asJava, schema).coalesce(1)
        .write.mode("overwrite").parquet(s"$dir/$name.parquet")
    def field(n: String, t: DataType) = StructField(n, t)
    val r = new SplittableRandom(dataSeed)

    save("region", StructType(Seq(field("r_regionkey", IntegerType), field("r_name", StringType))),
      regions.indices.map(i => Row(i, regions(i))))
    save("nation", StructType(Seq(field("n_nationkey", IntegerType), field("n_name", StringType),
      field("n_regionkey", IntegerType))),
      (0 until 25).map(i => Row(i, s"NATION_$i", i % 5)))

    val nCust = s.rows(150000)
    save("customer", StructType(Seq(field("c_custkey", LongType), field("c_name", StringType),
      field("c_nationkey", IntegerType), field("c_acctbal", DoubleType),
      field("c_mktsegment", StringType))),
      (0 until nCust).map(i => Row(i.toLong, f"Customer#$i%09d", r.nextInt(25),
        cents(r, -999.99, 9999.99), segments(r.nextInt(segments.length)))))

    val nSupp = s.rows(10000)
    save("supplier", StructType(Seq(field("s_suppkey", LongType), field("s_name", StringType),
      field("s_nationkey", IntegerType), field("s_acctbal", DoubleType))),
      (0 until nSupp).map(i => Row(i.toLong, f"Supplier#$i%09d", r.nextInt(25),
        cents(r, -999.99, 9999.99))))

    val nPart = s.rows(200000)
    save("part", StructType(Seq(field("p_partkey", LongType), field("p_name", StringType),
      field("p_brand", StringType), field("p_type", StringType), field("p_size", IntegerType),
      field("p_retailprice", DoubleType))),
      (0 until nPart).map(i => Row(i.toLong,
        s"${partAdj(r.nextInt(partAdj.length))} ${partNoun(r.nextInt(partNoun.length))}",
        s"Brand#${1 + r.nextInt(25)}", partTypes(r.nextInt(partTypes.length)),
        1 + r.nextInt(50), 900.0 + (i % 1000) / 10.0)))

    val nOrd = s.rows(1500000)
    save("orders", StructType(Seq(field("o_orderkey", LongType), field("o_custkey", LongType),
      field("o_orderstatus", StringType), field("o_totalprice", DoubleType),
      field("o_orderdate", TimestampType), field("o_orderpriority", StringType))),
      (0 until nOrd).map(i => Row(i.toLong, r.nextInt(nCust).toLong,
        orderStatus(r.nextInt(3)), cents(r, 1000.0, 500000.0),
        new Timestamp(orderEpoch + r.nextInt(2404) * day),
        priorities(r.nextInt(priorities.length)))))

    save("lineitem", StructType(Seq(field("l_orderkey", LongType), field("l_partkey", LongType),
      field("l_suppkey", LongType), field("l_linenumber", IntegerType),
      field("l_quantity", DoubleType), field("l_extendedprice", DoubleType),
      field("l_discount", DoubleType), field("l_tax", DoubleType),
      field("l_returnflag", StringType), field("l_linestatus", StringType),
      field("l_shipdate", TimestampType))),
      (0 until s.rows(6000000)).map(_ => Row(r.nextInt(nOrd).toLong, r.nextInt(nPart).toLong,
        r.nextInt(nSupp).toLong, 1 + r.nextInt(7), (1 + r.nextInt(50)).toDouble,
        cents(r, 900.0, 100000.0), r.nextInt(11) / 100.0, r.nextInt(9) / 100.0,
        returnFlags(r.nextInt(3)), lineStatus(r.nextInt(2)),
        new Timestamp(orderEpoch + r.nextInt(2404) * day))))

    val nUsers = s.rows(15000)
    save("events", StructType(Seq(field("event_id", LongType), field("ts", TimestampType),
      field("user_id", LongType), field("event_type", StringType), field("value", DoubleType),
      field("props", StringType))),
      (0 until s.rows(1000000)).map(i => Row(i.toLong,
        new Timestamp(eventEpoch + (r.nextDouble() * 30 * day).toLong),
        r.nextInt(nUsers).toLong, eventTypes(r.nextInt(eventTypes.length)),
        cents(r, 0.01, 490.0), s"""{"k": ${r.nextInt(100)}}""")))

    val texts = new Array[String](s.docs)
    for (i <- 0 until s.docs) {
      texts(i) =
        if (i >= 10 && r.nextInt(10) == 0) {
          // near-duplicate: an earlier document with a few words replaced
          val words = texts(r.nextInt(i)).split(' ')
          for (_ <- 0 until 1 + words.length / 20)
            words(r.nextInt(words.length)) = vocab(r.nextInt(vocab.length))
          words.mkString(" ")
        } else Array.fill(10 + r.nextInt(90))(vocab(r.nextInt(vocab.length))).mkString(" ")
    }
    save("documents", StructType(Seq(field("doc_id", LongType), field("text", StringType),
      field("lang", StringType), field("source", StringType), field("n_chars", LongType))),
      texts.indices.map(i => Row(i.toLong, texts(i), langs(r.nextInt(langs.length)),
        s"src${r.nextInt(20)}", texts(i).length.toLong)))

    val dim = 64
    val centroids = Array.fill(10, dim)(r.nextDouble() * 2 - 1)
    save("embeddings", StructType(Seq(field("vec_id", LongType),
      field("embedding", ArrayType(FloatType, containsNull = false)), field("label", IntegerType))),
      (0 until s.vecs).map { i =>
        val label = r.nextInt(10)
        val v = Array.tabulate(dim)(d => centroids(label)(d) + (r.nextDouble() * 2 - 1))
        val norm = math.sqrt(v.map(x => x * x).sum)
        Row(i.toLong, v.map(x => (x / norm).toFloat).toSeq, label)
      })
  }
}
