package graft.perfbench

import java.sql.{Date, Timestamp}
import java.util.SplittableRandom

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.types._

/** Seeded input generator for the three workloads. The same seed gives
  * byte-identical rows; every random draw comes from a SplittableRandom
  * keyed by (seed, table, partition), so output does not depend on task
  * scheduling. The generator only writes parquet files; the profiler
  * later reads them like any user table.
  *
  * == profile_mixed_large: one wide table ==
  * [[LargeRows]] rows, 15 columns, 8 parquet files:
  *  - id long (unique), amount double (lognormal mu=3 sigma=1, 1% null),
  *    score double (normal 50/15), qty int (Zipf s=1.2 over 1..1000),
  *    views long (uniform 0..1e12), ratio float (uniform^2, 5% null),
  *    price decimal(12,2) (uniform 0.01..9999.99), created_at timestamp
  *    (uniform over 2024), active boolean (70% true, 1% null);
  *  - country string: low cardinality, 40 values, Zipf s=1.1, 2% null,
  *    1% blank;
  *  - user_id string: high cardinality, Zipf s=0.8 over 200 000 ids;
  *  - sku string: 5 000 values, uniform, shape `AB-1234-x`;
  *  - zip_code string, numeric-looking: 60% 5-digit ints, 15% decimals,
  *    10% integers beyond the int range, 12% text, 3% blank;
  *  - signup string, date-looking: 40% yyyy-MM-dd, 20% dd/MM/yyyy,
  *    15% yyyyMMdd, 10% shaped like a date but invalid, 13% text,
  *    2% null;
  *  - comment string: 1-8 words, Zipf s=1.0 over a 300-word vocabulary,
  *    mixed case and some accented letters, 10% null, 5% blank.
  *
  * == profile_small_concurrent: a pool of small tables ==
  * 3 schemas x 2 sizes (1 500 and 10 000 rows) = 6 tables,
  * one parquet file each (so each is read as a single split):
  *  - orders: order_id long, customer string (Zipf s=1.0 over 500),
  *    status string (5 values, skewed), total decimal(10,2), order_date
  *    date, priority string (5 values), note string (10% blank);
  *  - events: ts timestamp, user string (Zipf s=0.8 over 20 000), kind
  *    string (Zipf s=1.2 over 8), value double (normal), ok boolean
  *    (2% null);
  *  - people: name string (40 x 40 name pairs), email string, age int,
  *    score float, zip string (numeric-looking), birth string
  *    (date-looking, as in the large table).
  * Requests draw tables in a seeded order: consecutive seeded
  * permutations of the pool, so every table is drawn equally often.
  *
  * == stream_windowed_profile: micro-batch files ==
  * [[StreamFiles]] files of [[StreamEventsPerFile]] events, one file per
  * trigger: event_ts timestamp, key string (Zipf s=1.2 over 50 keys),
  * value double (lognormal, rounded to cents), tag string (Zipf s=1.1
  * over 2 000 tags). File b covers nominal event time [2b, 2b+2)
  * minutes; each event is then moved up to [[StreamMaxLateMin]] minutes
  * earlier, so batches overlap and arrive out of order, but never by
  * more than the 10-minute watermark: no event is dropped as late.
  * File modification times increase with b, fixing the read order.
  */
object Gen {

  val LargeRows = 100000
  val LargeFiles = 8
  val SmallSizes = Seq(1500, 10000)
  val StreamFiles = 6
  val StreamEventsPerFile = 10000
  val StreamMaxLateMin = 6

  /** Cumulative Zipf(s) distribution over ranks 1..m. */
  final class Zipf(m: Int, s: Double) extends Serializable {
    private lazy val cdf: Array[Double] = {
      val w = Array.tabulate(m)(i => 1.0 / math.pow(i + 1.0, s))
      val total = w.sum
      var acc = 0.0
      w.map { x => acc += x / total; acc }
    }
    /** A rank in 0 until m. */
    def draw(r: SplittableRandom): Int = {
      val u = r.nextDouble()
      val i = java.util.Arrays.binarySearch(cdf, u)
      math.min(m - 1, if (i >= 0) i else -i - 1)
    }
  }

  private def rng(seed: Long, table: Int, part: Int): SplittableRandom =
    new SplittableRandom(seed * 1000003L + table * 7919L + part)

  private def gaussian(r: SplittableRandom): Double = {
    // Box-Muller; one draw per call keeps the sequence simple
    val u1 = 1.0 - r.nextDouble()
    math.sqrt(-2.0 * math.log(u1)) * math.cos(2 * math.Pi * r.nextDouble())
  }

  private def cents(x: Double): java.math.BigDecimal =
    java.math.BigDecimal.valueOf(math.round(x * 100)).movePointLeft(2)

  private val epoch2024 = 1704067200000L // 2024-01-01T00:00:00Z
  private val yearMs = 366L * 24 * 3600 * 1000

  private val words = {
    val base = Seq("data", "profile", "stream", "value", "null", "count",
      "alpha", "beta", "gamma", "delta", "río", "café", "naïve", "zoë",
      "Spark", "Flink", "mean", "skew", "kurt", "Top", "pattern", "blank")
    (base ++ (0 until 300 - base.size).map(i => s"w${i}x")).toArray
  }

  private def numericLike(r: SplittableRandom): String = {
    val u = r.nextDouble()
    if (u < 0.60) f"${r.nextInt(100000)}%05d"
    else if (u < 0.75) f"${r.nextInt(1000)}.${r.nextInt(100)}%02d"
    else if (u < 0.85) (3000000000L + r.nextLong(1000000000000L)).toString
    else if (u < 0.97) Seq("N/A", "unknown", "12a45", "-")(r.nextInt(4))
    else " "
  }

  private def dateLike(r: SplittableRandom): String = {
    val u = r.nextDouble()
    val y = 1950 + r.nextInt(70); val m = 1 + r.nextInt(12); val d = 1 + r.nextInt(28)
    if (u < 0.40) f"$y%04d-$m%02d-$d%02d"
    else if (u < 0.60) f"$d%02d/$m%02d/$y%04d"
    else if (u < 0.75) f"$y%04d$m%02d$d%02d"
    else if (u < 0.85) f"$y%04d-${13 + r.nextInt(20)}%02d-${32 + r.nextInt(60)}%02d"
    else if (u < 0.98) Seq("yesterday", "n/a", "2024-1-5", "Jan 3")(r.nextInt(4))
    else null
  }

  // ---- profile_mixed_large ----------------------------------------------

  val largeSchema: StructType = StructType(Seq(
    StructField("id", LongType), StructField("amount", DoubleType),
    StructField("score", DoubleType), StructField("qty", IntegerType),
    StructField("views", LongType), StructField("ratio", FloatType),
    StructField("price", DecimalType(12, 2)),
    StructField("created_at", TimestampType),
    StructField("active", BooleanType), StructField("country", StringType),
    StructField("user_id", StringType), StructField("sku", StringType),
    StructField("zip_code", StringType), StructField("signup", StringType),
    StructField("comment", StringType)))

  private def largePart(seed: Long, part: Int, n: Int): Iterator[Row] = {
    val r = rng(seed, 1, part)
    val qtyZ = new Zipf(1000, 1.2)
    val countryZ = new Zipf(40, 1.1)
    val userZ = new Zipf(200000, 0.8)
    val wordZ = new Zipf(words.length, 1.0)
    Iterator.tabulate(n) { i =>
      val id = part.toLong * n + i
      val amount = if (r.nextDouble() < 0.01) null else math.exp(3 + gaussian(r))
      val score = 50 + 15 * gaussian(r)
      val qty = qtyZ.draw(r) + 1
      val views = r.nextLong(1000000000000L)
      val ratio = if (r.nextDouble() < 0.05) null else { val u = r.nextFloat(); u * u }
      val price = cents(0.01 + r.nextDouble() * 9999.98)
      val created = new Timestamp(epoch2024 + r.nextLong(yearMs))
      val active = if (r.nextDouble() < 0.01) null else r.nextDouble() < 0.7
      val cu = r.nextDouble()
      val country =
        if (cu < 0.02) null else if (cu < 0.03) "" else f"C${countryZ.draw(r)}%02d"
      val user = f"user_${userZ.draw(r)}%07d"
      val sku = f"AB-${r.nextInt(5000)}%04d-x"
      val wu = r.nextDouble()
      val comment =
        if (wu < 0.10) null else if (wu < 0.15) "   "
        else Seq.fill(1 + r.nextInt(8)) {
          val w = words(wordZ.draw(r))
          if (r.nextDouble() < 0.2) w.capitalize else w
        }.mkString(" ")
      Row(id, amount, score, qty, views, ratio, price, created, active,
        country, user, sku, numericLike(r), dateLike(r), comment)
    }
  }

  // ---- profile_small_concurrent -----------------------------------------

  val smallSchemas: Seq[(String, StructType)] = Seq(
    "orders" -> StructType(Seq(
      StructField("order_id", LongType), StructField("customer", StringType),
      StructField("status", StringType), StructField("total", DecimalType(10, 2)),
      StructField("order_date", DateType), StructField("priority", StringType),
      StructField("note", StringType))),
    "events" -> StructType(Seq(
      StructField("ts", TimestampType), StructField("user", StringType),
      StructField("kind", StringType), StructField("value", DoubleType),
      StructField("ok", BooleanType))),
    "people" -> StructType(Seq(
      StructField("name", StringType), StructField("email", StringType),
      StructField("age", IntegerType), StructField("score", FloatType),
      StructField("zip", StringType), StructField("birth", StringType))))

  private val names = (0 until 40).map(i => s"N${('a' + i % 26).toChar}${i}")

  private def smallRows(seed: Long, schema: Int, table: Int, n: Int): Iterator[Row] = {
    val r = rng(seed, 100 + table, 0)
    val custZ = new Zipf(500, 1.0)
    val userZ = new Zipf(20000, 0.8)
    val kindZ = new Zipf(8, 1.2)
    val statusZ = new Zipf(5, 1.5)
    Iterator.tabulate(n) { i =>
      schema match {
        case 0 => Row(i.toLong, f"cust${custZ.draw(r)}%04d",
          Seq("OPEN", "SHIPPED", "DONE", "RETURNED", "LOST")(statusZ.draw(r)),
          cents(r.nextDouble() * 5000), new Date(epoch2024 + r.nextLong(yearMs)),
          s"${1 + r.nextInt(5)}-PRIO",
          if (r.nextDouble() < 0.1) "" else s"note ${r.nextInt(300)}")
        case 1 => Row(new Timestamp(epoch2024 + r.nextLong(yearMs)),
          f"u${userZ.draw(r)}%06d", s"kind${kindZ.draw(r)}",
          100 + 20 * gaussian(r),
          if (r.nextDouble() < 0.02) null else r.nextBoolean())
        case _ =>
          val a = names(r.nextInt(40)); val b = names(r.nextInt(40))
          Row(s"$a $b", s"${a.toLowerCase}.${b.toLowerCase}@example.org",
            18 + r.nextInt(70), r.nextFloat() * 100, numericLike(r), dateLike(r))
      }
    }
  }

  /** (schema name, rows, path) for every pool table. */
  def smallPool(dir: String): Seq[(String, Int, String)] =
    for {
      (name, _) <- smallSchemas
      n <- SmallSizes
    } yield (name, n, s"$dir/small/${name}_$n")

  /** The table index each request draws: seeded permutations of the
    * pool, concatenated. */
  def drawOrder(seed: Long, poolSize: Int, blocks: Int): Array[Int] = {
    val r = rng(seed, 2, 0)
    Array.fill(blocks) {
      val a = Array.range(0, poolSize)
      for (i <- a.indices.reverse) {
        val j = r.nextInt(i + 1); val t = a(i); a(i) = a(j); a(j) = t
      }
      a
    }.flatten
  }

  // ---- stream_windowed_profile ------------------------------------------

  val streamSchema: StructType = StructType(Seq(
    StructField("event_ts", TimestampType), StructField("key", StringType),
    StructField("value", DoubleType), StructField("tag", StringType)))

  private def streamRows(seed: Long, file: Int, n: Int): Iterator[Row] = {
    val r = rng(seed, 3, file)
    val keyZ = new Zipf(50, 1.2)
    val tagZ = new Zipf(2000, 1.1)
    val minute = 60000L
    Iterator.tabulate(n) { _ =>
      val nominal = epoch2024 + file * 2 * minute + r.nextLong(2 * minute)
      val late = (r.nextDouble() * r.nextDouble() * StreamMaxLateMin * minute).toLong
      Row(new Timestamp(nominal - late), f"k${keyZ.draw(r)}%02d",
        math.round(math.exp(3 + gaussian(r)) * 100) / 100.0,
        f"t${tagZ.draw(r)}%04d")
    }
  }

  // ---- writers ----------------------------------------------------------

  private def writeParts(spark: SparkSession, schema: StructType, path: String,
      parts: Int)(rows: Int => Iterator[Row]): Unit = {
    val rdd = spark.sparkContext.parallelize(0 until parts, parts)
      .mapPartitions(_.flatMap(rows))
    spark.createDataFrame(rdd, schema).write.mode("overwrite").parquet(path)
  }

  def writeLarge(spark: SparkSession, seed: Long, dir: String): String = {
    val path = s"$dir/large"
    val per = LargeRows / LargeFiles
    writeParts(spark, largeSchema, path, LargeFiles)(p => largePart(seed, p, per))
    path
  }

  def writeSmallPool(spark: SparkSession, seed: Long, dir: String): Seq[(String, Int, String)] = {
    val pool = smallPool(dir)
    // one Spark job per table, four at a time
    val ec = scala.concurrent.ExecutionContext.fromExecutorService(
      java.util.concurrent.Executors.newFixedThreadPool(4))
    try {
      val jobs = pool.zipWithIndex.map { case ((name, n, path), t) =>
        scala.concurrent.Future {
          val schemaIdx = smallSchemas.indexWhere(_._1 == name)
          writeParts(spark, smallSchemas(schemaIdx)._2, path, 1)(_ =>
            smallRows(seed, schemaIdx, t, n))
        }(ec)
      }
      jobs.foreach(scala.concurrent.Await.result(_, scala.concurrent.duration.Duration.Inf))
    } finally ec.shutdown()
    pool
  }

  /** Writes `files` micro-batch files into `<dir>/<name>/` as
    * `batch-NNN.parquet` with increasing modification times. */
  def writeStream(spark: SparkSession, seed: Long, dir: String, name: String,
      files: Int, perFile: Int): String = {
    val out = new java.io.File(s"$dir/$name")
    out.mkdirs()
    val staging = s"$dir/${name}_staging"
    writeParts(spark, streamSchema, staging, files)(f => streamRows(seed, f, perFile))
    val parts = new java.io.File(staging).listFiles()
      .filter(f => f.getName.startsWith("part-") && f.getName.endsWith(".parquet"))
      .sortBy(_.getName)
    require(parts.length == files, s"expected $files stream files, got ${parts.length}")
    val t0 = System.currentTimeMillis() - files * 1000L
    parts.zipWithIndex.foreach { case (f, b) =>
      val dst = new java.io.File(out, f"batch-$b%03d.parquet")
      require(f.renameTo(dst), s"cannot move $f")
      dst.setLastModified(t0 + b * 1000L)
    }
    FileTree.delete(new java.io.File(staging))
    out.getPath
  }
}

object FileTree {
  /** Deletes a file or directory tree; links are removed, not followed. */
  def delete(f: java.io.File): Unit = {
    if (f.isDirectory && !java.nio.file.Files.isSymbolicLink(f.toPath))
      Option(f.listFiles()).foreach(_.foreach(delete))
    f.delete()
  }
}
