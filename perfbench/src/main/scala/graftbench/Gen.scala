package graftbench

import java.util.SplittableRandom

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.types._

/** Seeded input generator. Every table is built row by row on the driver
  * from one `SplittableRandom` per table, in a single thread, so the same
  * seed gives the same rows. Spark only writes them out, one file per
  * pre-built slice, so the file layout is fixed too.
  *
  * The shapes follow the graft test tables (events, documents,
  * embeddings), with the irregularities a real feed has and the test
  * tables lack: a multi-file daily layout, late re-sent versions of an
  * event, rows with null keys, and case/whitespace variants of
  * `event_type`; near-duplicate and exact-duplicate documents; planted
  * near-duplicate vectors. Sizes grow the way `graft.Sweep` grows a
  * corpus: more keys at the same density, so the duplicate rate stays
  * fixed as the size changes. */
object Gen {

  val Day0: java.time.LocalDate = java.time.LocalDate.of(2024, 1, 1)
  private val MicrosPerDay = 86400L * 1000000L
  private val Epoch0 = Day0.toEpochDay * MicrosPerDay

  val EventSchema: StructType = StructType(Seq(
    StructField("event_id", LongType), StructField("ts", TimestampType),
    StructField("user_id", LongType), StructField("event_type", StringType),
    StructField("value", DoubleType), StructField("props", StringType)))

  private val Types = Array("click", "view", "purchase", "signup", "error")

  /** What the generator knows about the events it wrote. */
  final case class EventStats(rows: Long, validIds: Long, resent: Long,
      nullKeyRows: Long, variantRows: Long, files: Int)

  /** `base` events over `days` days, one slice per day. A re-sent
    * version lands in a later day's slice with a strictly later `ts`,
    * so "latest wins" has exactly one answer per `event_id`. Users keep
    * the test tables' density (about 67 events each), so a smaller input
    * has fewer users, not thinner histories. */
  def events(seed: Long, base: Int, days: Int = 30,
      zones: Int = 100): (Array[Array[Row]], EventStats) = {
    val users = math.max(20, base * 15 / 1000)
    val rnd = new SplittableRandom(seed * 1000003L + 11)
    val slices = Array.fill(days)(Array.newBuilder[Row])
    var resent, nullKey, variant = 0L
    def etype(): String = {
      val t = Types(rnd.nextInt(Types.length))
      if (rnd.nextInt(20) != 0) t
      else {
        variant += 1
        rnd.nextInt(3) match {
          case 0 => t.toUpperCase
          case 1 => " " + t.capitalize
          case _ => t + "  "
        }
      }
    }
    def value(): Double = rnd.nextInt(15000) / 100.0
    def props(): String = s"""{"k": ${rnd.nextInt(zones)}}"""
    for (i <- 0 until base) {
      val day = (i.toLong * days / base).toInt
      val ts = Epoch0 + day * MicrosPerDay + rnd.nextLong(MicrosPerDay)
      val uid = rnd.nextInt(users).toLong
      val p = props()
      slices(day) += Row(i.toLong, ts2(ts), uid, etype(), value(), p)
      if (rnd.nextInt(25) == 0) {
        // late re-send: a later file, a later ts, possibly a new value
        var t = ts
        var d = day
        val copies = if (rnd.nextInt(4) == 0) 2 else 1
        for (_ <- 0 until copies) {
          t += 1 + rnd.nextLong(2 * MicrosPerDay)
          d = math.min(days - 1, d + 1 + rnd.nextInt(2))
          slices(d) += Row(i.toLong, ts2(t), uid, etype(), value(), p)
          resent += 1
        }
      }
      if (rnd.nextInt(100) == 0) {
        // a row no silver table may keep: one required key is null
        val junkId = (base + i).toLong
        val row = rnd.nextInt(3) match {
          case 0 => Row(null, ts2(ts), uid, etype(), value(), p)
          case 1 => Row(junkId, ts2(ts), null, etype(), value(), p)
          case _ => Row(junkId, null, uid, etype(), value(), p)
        }
        slices(day) += row
        nullKey += 1
      }
    }
    val out = slices.map(_.result())
    (out, EventStats(out.map(_.length.toLong).sum, base, resent, nullKey, variant, days))
  }

  private def ts2(micros: Long): java.sql.Timestamp = {
    val t = new java.sql.Timestamp(Math.floorDiv(micros, 1000L))
    t.setNanos((Math.floorMod(micros, 1000000L) * 1000L).toInt)
    t
  }

  val DocSchema: StructType = StructType(Seq(
    StructField("doc_id", LongType), StructField("text", StringType),
    StructField("lang", StringType), StructField("source", StringType),
    StructField("n_chars", LongType)))

  private val Vocab = Array("batch", "part", "spark", "line", "column", "order",
    "small", "sort", "fast", "value", "scan", "query", "agg", "table", "hash",
    "join", "filter", "group", "merge", "stream", "vector", "key", "customer",
    "big", "slow", "the", "a", "index", "shard", "cache", "window", "frame",
    "plan", "row", "file", "page", "node", "task", "stage", "job")
  private val Langs = Array("en", "en", "en", "de", "fr", "es", "zh")

  final case class DocStats(rows: Long, nearDups: Long, exactDups: Long)

  /** `n` documents; about one in ten repeats an earlier original with
    * one or two words changed and one in twenty repeats one in another
    * case. */
  def documents(seed: Long, n: Int, slices: Int): (Array[Array[Row]], DocStats) = {
    val rnd = new SplittableRandom(seed * 1000003L + 23)
    val texts = new Array[String](n)
    val fresh = scala.collection.mutable.ArrayBuffer.empty[Int]
    var near, exact = 0L
    val rows = Array.tabulate(n) { i =>
      val kind = if (i < 20) 0 else rnd.nextInt(20)
      val text = kind match {
        case 0 | 1 if i >= 20 =>
          near += 1
          val words = texts(fresh(rnd.nextInt(fresh.size))).split(' ')
          for (_ <- 0 to rnd.nextInt(2))
            words(rnd.nextInt(words.length)) = Vocab(rnd.nextInt(Vocab.length))
          words.mkString(" ")
        case 2 if i >= 20 =>
          exact += 1
          texts(fresh(rnd.nextInt(fresh.size))).toUpperCase
        case _ =>
          fresh += i
          val len = 8 + rnd.nextInt(72)
          val sb = new StringBuilder
          for (w <- 0 until len) {
            if (w > 0) sb.append(' ')
            sb.append(Vocab(rnd.nextInt(Vocab.length)))
            if (rnd.nextInt(40) == 0) sb.append(if (rnd.nextBoolean()) "," else "!")
          }
          sb.toString
      }
      texts(i) = text
      Row(i.toLong, text, Langs(rnd.nextInt(Langs.length)),
        s"src${rnd.nextInt(20)}", text.length.toLong)
    }
    (split(rows, slices), DocStats(n, near, exact))
  }

  val EmbSchema: StructType = StructType(Seq(
    StructField("vec_id", LongType),
    StructField("embedding", ArrayType(FloatType, containsNull = false)),
    StructField("label", IntegerType)))

  final case class EmbStats(rows: Long, planted: Long, dim: Int)

  /** `n` unit vectors in three levels: 10 label centres, 200 topic
    * centres around them, and vectors around their topic, so a vector's
    * true nearest neighbours are its topic mates (cosine about 0.8) and
    * unrelated vectors of a label sit near 0.4. About one in twenty is a
    * slightly perturbed copy of an earlier vector (cosine above 0.99);
    * the planted (original, copy) id pairs are returned too. */
  def embeddings(seed: Long, n: Int, slices: Int, dim: Int = 64)
      : (Array[Array[Row]], EmbStats, Set[(Long, Long)]) = {
    val rnd = new SplittableRandom(seed * 1000003L + 37)
    def gauss(): Double = {
      // Box-Muller on the seeded stream (no hidden generator state)
      val u = 1.0 - rnd.nextDouble()
      math.sqrt(-2.0 * math.log(u)) * math.cos(2 * math.Pi * rnd.nextDouble())
    }
    def unit(v: Array[Double]): Array[Float] = {
      val norm = math.sqrt(v.map(x => x * x).sum)
      v.map(x => (x / norm).toFloat)
    }
    val labels = Array.fill(10)(Array.fill(dim)(gauss()))
    val topics = Array.tabulate(200)(t => (t % 10, labels(t % 10).map(_ + gauss())))
    val vecs = new Array[Array[Float]](n)
    val planted = Set.newBuilder[(Long, Long)]
    val rows = Array.tabulate(n) { i =>
      val (label, v) =
        if (i >= 10 && rnd.nextInt(20) == 0) {
          val orig = rnd.nextInt(i)
          planted += (orig.toLong -> i.toLong)
          (-1, unit(vecs(orig).map(x => x + 0.005 * gauss())))
        } else {
          val (l, c) = topics(rnd.nextInt(topics.length))
          (l, unit(c.map(x => x + 0.4 * gauss())))
        }
      vecs(i) = v
      Row(i.toLong, v.toSeq, if (label >= 0) label else rnd.nextInt(10))
    }
    val pairs = planted.result()
    (split(rows, slices), EmbStats(n, pairs.size.toLong, dim), pairs)
  }

  private def split(rows: Array[Row], slices: Int): Array[Array[Row]] = {
    val per = math.max(1, (rows.length + slices - 1) / slices)
    rows.grouped(per).toArray
  }

  /** One parquet file per slice, in slice order. */
  def write(spark: SparkSession, slices: Array[Array[Row]], schema: StructType,
      path: String): Unit = {
    val rdd = spark.sparkContext.parallelize(slices.toSeq, slices.length).flatMap(_.iterator)
    spark.createDataFrame(rdd, schema).write.mode("overwrite").parquet(path)
  }
}
