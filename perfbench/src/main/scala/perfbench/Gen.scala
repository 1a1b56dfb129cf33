package perfbench

import java.io.{BufferedWriter, File, FileOutputStream, OutputStreamWriter}
import java.nio.charset.StandardCharsets.UTF_8
import java.time.{Instant, LocalDate}
import java.util.SplittableRandom

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, FloatType}

/** What the ingest check needs to know about every valid event it wrote:
  * the source fields a delivered payload must round-trip. Indexed by
  * event_id (ids are dense from 0).
  */
final class Expected(n: Int) {
  val userId = new Array[Long](n)
  val tsMillis = new Array[Long](n)
  val typeIdx = new Array[Byte](n)
  val valueCents = new Array[Long](n)
  val propsHash = new Array[Int](n)
  var valid = 0
  var malformed = 0
}

/** Seeded JSON-lines event generator: the "S3 objects" the pipeline
  * drains. The properties the pipeline's cost depends on are the
  * constants of the companion object:
  *   - user_id is Zipf(ZipfS) over `Users` keys, so one shard runs hot;
  *   - `MalformedFrac` of lines are truncated JSON or lack user_id
  *     (both quarantined);
  *   - `NonAsciiFrac` of props carry multi-byte UTF-8 text;
  *   - `BigFrac` of props carry a 2–64 KB padding field.
  */
final class EventGen(seed: Long) {
  import EventGen._

  private val rnd = new SplittableRandom(seed)
  private val cdf: Array[Double] = {
    val w = Array.tabulate(Users)(k => 1.0 / math.pow(k + 1, ZipfS))
    var acc = 0.0
    val c = w.map { x => acc += x; acc }
    c.map(_ / acc)
  }
  private var nextId = 0L
  private var nextBad = 0L

  private def zipfUser(): Long = {
    val i = java.util.Arrays.binarySearch(cdf, rnd.nextDouble())
    (if (i >= 0) i else -i - 1).min(Users - 1).toLong + 1
  }

  private def props(): String = {
    val k = rnd.nextInt(100)
    val u = rnd.nextDouble()
    if (u < BigFrac) {
      val len = 2048 + rnd.nextInt(62 * 1024)
      val sb = new StringBuilder(len)
      var i = 0
      while (i < len) { sb.append(('a' + rnd.nextInt(26)).toChar); i += 1 }
      s"""{"k": $k, "pad": "$sb"}"""
    } else if (u < BigFrac + NonAsciiFrac)
      s"""{"k": $k, "note": "${NonAscii(rnd.nextInt(NonAscii.length))}"}"""
    else s"""{"k": $k}"""
  }

  /** One line. Valid lines are recorded in `exp` under their event_id;
    * `tsMillis` is the event time written into the line.
    */
  def line(exp: Expected, tsMillis: Long): String = {
    if (rnd.nextDouble() < MalformedFrac) {
      exp.malformed += 1
      nextBad += 1
      val body = s"""{"event_id":${BadIdBase + nextBad},"ts":"${iso(tsMillis)}","event_type":"view""""
      // half truncated JSON, half well-formed but missing user_id
      return if (rnd.nextBoolean()) body.take(5 + rnd.nextInt(body.length - 10)) else body + "}"
    }
    val id = nextId.toInt
    nextId += 1
    val user = zipfUser()
    val t = rnd.nextInt(Types.length)
    val cents = rnd.nextLong(100000L)
    val p = props()
    exp.userId(id) = user
    exp.tsMillis(id) = tsMillis
    exp.typeIdx(id) = t.toByte
    exp.valueCents(id) = cents
    exp.propsHash(id) = p.hashCode
    exp.valid += 1
    s"""{"event_id":$id,"ts":"${iso(tsMillis)}","user_id":$user,""" +
      s""""event_type":"${Types(t)}","value":${cents / 100}.${"%02d".format(cents % 100)},""" +
      s""""props":"${p.replace("\"", "\\\"")}"}"""
  }

  /** Write `lines` lines with random January-2024 event times to `dir/name`. */
  def writeFile(exp: Expected, dir: File, name: String, lines: Int): File = {
    val f = new File(dir, name)
    val w = new BufferedWriter(new OutputStreamWriter(new FileOutputStream(f), UTF_8), 1 << 16)
    try {
      var i = 0
      while (i < lines) { w.write(line(exp, randomTs())); w.write('\n'); i += 1 }
    } finally w.close()
    f
  }

  /** Random event time in January 2024. */
  def randomTs(): Long = T0 + rnd.nextLong(30L * 86400 * 1000)
}

object EventGen {
  val Users = 50000
  val ZipfS = 1.1
  val MalformedFrac = 0.01
  val NonAsciiFrac = 0.05
  val BigFrac = 0.005
  val Types: Array[String] = Array("view", "click", "purchase", "signup", "error")
  val NonAscii: Array[String] = Array("café crème", "東京 → 大阪", "naïve façade ✓",
    "Größe ≤ 5 µm", "données é à ü", "привет мир", "🙂 emoji tail")
  val T0: Long = Instant.parse("2024-01-01T00:00:00Z").toEpochMilli
  val BadIdBase: Long = 1L << 40
  def iso(ms: Long): String = Instant.ofEpochMilli(ms).toString
}

/** Seeded document corpus in the shape of the `documents` table
  * (word soup over a small vocabulary, 10–100 words, rare exact
  * duplicates), upscaled ×`times` the way the scale probes do it: every
  * doc is replicated under fresh ids with a `copymark<k>` token appended,
  * so each doc has `times - 1` near- but not exact duplicates.
  */
object DocGen {
  val Vocab: Array[String] = ("spark window merge table column vector stream value data " +
    "small join filter big group hash customer sort order slow line part fast row the " +
    "agg key query a scan batch").split(" ")
  val Langs: Array[String] = Array("en", "en", "en", "es", "de", "fr", "zh")

  def base(seed: Long, n: Int): Seq[(Long, String, String, String)] = {
    val rnd = new SplittableRandom(seed)
    val texts = new Array[String](n)
    (0 until n).map { i =>
      val text =
        if (i > 10 && rnd.nextInt(500) == 0) texts(rnd.nextInt(i)) // exact duplicate
        else {
          val words = Array.fill(10 + rnd.nextInt(91))(Vocab(rnd.nextInt(Vocab.length)))
          if (rnd.nextInt(20) == 0) words(rnd.nextInt(words.length)) = "dup"
          words.mkString(" ")
        }
      texts(i) = text
      (i.toLong, text, Langs(rnd.nextInt(Langs.length)), s"src${rnd.nextInt(20)}")
    }
  }

  /** Write `documents.parquet` (base × times) under `dir`. */
  def write(spark: SparkSession, seed: Long, n: Int, times: Int, dir: String): Unit = {
    import spark.implicits._
    val docs: DataFrame = base(seed, n).toDF("doc_id", "text", "lang", "source")
    docs.select(col("doc_id"), col("text"), col("lang"), col("source"),
        explode(typedLit((0 until times).toList)).as("cp"))
      .select((col("doc_id") * times + col("cp")).as("doc_id"),
        concat(col("text"), lit(" copymark"), col("cp").cast("string")).as("text"),
        col("lang"), col("source"))
      .withColumn("n_chars", length(col("text")).cast("long"))
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/documents.parquet")
  }
}

/** Seeded tables in the shapes of the catalog's inputs, at the sizes of
  * the graded sf0.01 set: the customer / orders / lineitem part of the
  * TPC-H-like star schema (money on the cent grid, dates as
  * TIMESTAMP_NTZ), unit-norm 64-d `embeddings` and a `documents` corpus.
  */
object TableGen {
  val Customers = 1500
  val Parts = 2000 // key ranges of lineitem's part / supplier references
  val Suppliers = 100
  val Orders = 15000
  val Vectors = 2000
  val Dim = 64
  val Docs = 500

  val Segments: Array[String] = Array("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
  val Priorities: Array[String] = Array("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
  val D0: LocalDate = LocalDate.of(1995, 1, 1)

  /** Write every table as `<dir>/<table>.parquet`. */
  def write(spark: SparkSession, seed: Long, dir: String): Unit = {
    import spark.implicits._
    val rnd = new SplittableRandom(seed)
    def cents(lo: Long, hi: Long): Double = (lo + rnd.nextLong(hi - lo + 1)) / 100.0
    def pick[T](a: Array[T]): T = a(rnd.nextInt(a.length))
    def out(df: DataFrame, name: String): Unit =
      df.coalesce(1).write.mode("overwrite").parquet(s"$dir/$name.parquet")

    out((0 until Customers).map(i =>
      (i.toLong, f"Customer#$i%09d", rnd.nextInt(25), cents(-99999, 999999), pick(Segments)))
      .toDF("c_custkey", "c_name", "c_nationkey", "c_acctbal", "c_mktsegment"), "customer")
    val orderDay = Array.fill(Orders)(rnd.nextInt(2404))
    out((0 until Orders).map(i =>
      (i.toLong, rnd.nextInt(Customers).toLong, pick(Array("F", "O", "P")), cents(100000, 50000000),
        D0.plusDays(orderDay(i)).atStartOfDay, pick(Priorities)))
      .toDF("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice", "o_orderdate",
        "o_orderpriority"), "orders")
    // 1–7 lines per order, each shipped 1–121 days after its order date
    out((0 until Orders).flatMap(o => (1 to 1 + rnd.nextInt(7)).map(l =>
      (o.toLong, rnd.nextInt(Parts).toLong, rnd.nextInt(Suppliers).toLong, l,
        (1 + rnd.nextInt(50)).toDouble, cents(90000, 10500000), rnd.nextInt(11) / 100.0,
        rnd.nextInt(9) / 100.0, pick(Array("A", "N", "R")), pick(Array("F", "O")),
        D0.plusDays(orderDay(o) + 1 + rnd.nextInt(121)).atStartOfDay)))
      .toDF("l_orderkey", "l_partkey", "l_suppkey", "l_linenumber", "l_quantity",
        "l_extendedprice", "l_discount", "l_tax", "l_returnflag", "l_linestatus", "l_shipdate"),
      "lineitem")
    out((0 until Vectors).map { i =>
      val v = Array.fill(Dim)(rnd.nextGaussian())
      val n = math.sqrt(v.map(x => x * x).sum)
      (i.toLong, v.map(x => (x / n).toFloat), rnd.nextInt(10))
    }.toDF("vec_id", "embedding", "label")
      .withColumn("embedding", col("embedding").cast(ArrayType(FloatType, containsNull = true))),
      "embeddings")
    DocGen.write(spark, seed, Docs, 1, dir)
  }
}
