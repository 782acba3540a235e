package perfbench

import java.util.SplittableRandom

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.catalyst.expressions.XXH64
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Seeded input generators. The same seed gives byte-identical inputs;
  * the program under test only ever sees the written Parquet files.
  */
object Inputs {

  /** Hourly grid: NT hours x NY x NX cells, two variables, on a
    * binary-exact 0.25 degree lattice. Every value is 3k/1024 for an
    * integer k, so a daily mean is an exact binary fraction (k/8192) and
    * every sum the pipeline or its checks form is exact and
    * order-independent — the same trick `SyntheticGrid` uses. k is a
    * 64-bit hash of (seed, variable, hour, row, column), so every seed's
    * grid has the same value statistics and Parquet encodes it to the
    * same size.
    */
  final case class GridSpec(seed: Long, nt: Int = 1440, ny: Int = 32, nx: Int = 64) {
    val lon0 = -90.0
    val lat0 = 35.0
    val step = 0.25
    val t0 = "2019-01-01 00:00:00"

    /** k for variable v at (hour it, row jy, column jx): Spark's
      * `xxhash64(seed, v, it, jy, jx)` folded into [0, 104729).
      */
    def k(v: Int, it: Int, jy: Int, jx: Int): Long = {
      val h = Seq(v, it, jy, jx).foldLeft(XXH64.hashLong(seed, 42L))((h, i) => XXH64.hashInt(i, h))
      java.lang.Math.floorMod(h, 104729L)
    }
    def value(v: Int, it: Int, jy: Int, jx: Int): Double = 3.0 * k(v, it, jy, jx) / 1024.0
  }

  def writeGrid(spark: SparkSession, g: GridSpec, path: String): Unit = {
    def value(v: Int) = pmod(xxhash64(lit(g.seed), lit(v), col("it"), col("jy"), col("jx")),
      lit(104729L)) * 3 / lit(1024.0)
    spark.range(0L, g.nt.toLong * g.ny * g.nx, 1L, 4)
      .select(expr(s"id div ${g.ny * g.nx}").cast("int").as("it"),
        expr(s"(id div ${g.nx}) % ${g.ny}").cast("int").as("jy"),
        expr(s"id % ${g.nx}").cast("int").as("jx"))
      .select(
        expr(s"timestamp'${g.t0}' + make_interval(0,0,0,0,it,0,0)").as("time"),
        (lit(g.lat0) + col("jy") * lit(g.step)).as("y"),
        (lit(g.lon0) + col("jx") * lit(g.step)).as("x"),
        value(0).as("t2m"), value(1).as("u100"))
      .write.parquet(path)
  }

  val vocab: Array[String] = ("spark window merge table column vector stream value data " +
    "small join filter big group hash customer sort order slow line part fast row the " +
    "agg key query a scan batch").split(" ")
  private val langs = Array("en", "en", "en", "en", "fr", "es", "zh", "de", "fr", "es")

  /** Word-soup corpus shaped like the engine's documents fixture: `nBase`
    * documents of 10..100 words over a 30-word vocabulary, then
    * `dupShare` x nBase exact copies and as many near-duplicates (one
    * word replaced, " dup" appended) of documents drawn from ids >= 8.
    * Returns the row count.
    */
  def writeDocuments(spark: SparkSession, seed: Long, nBase: Int, dupShare: Double,
                     path: String): Long = {
    val r = new SplittableRandom(seed ^ 0x5DEECE66DL)
    val base = Array.tabulate(nBase) { _ =>
      Array.fill(10 + r.nextInt(91))(vocab(r.nextInt(vocab.length))).mkString(" ")
    }
    val nDup = math.round(nBase * dupShare).toInt
    val exact = Array.fill(nDup)(base(8 + r.nextInt(nBase - 8)))
    val near = Array.fill(nDup) {
      val ws = base(8 + r.nextInt(nBase - 8)).split(" ")
      ws(r.nextInt(ws.length)) = vocab(r.nextInt(vocab.length))
      ws.mkString(" ") + " dup"
    }
    val texts = base ++ exact ++ near
    val rows = texts.indices.map { i =>
      Row(i.toLong, texts(i), langs(r.nextInt(langs.length)), s"src${i % 20}",
        texts(i).length.toLong)
    }
    val schema = StructType(Seq(StructField("doc_id", LongType), StructField("text", StringType),
      StructField("lang", StringType), StructField("source", StringType),
      StructField("n_chars", LongType)))
    spark.createDataFrame(spark.sparkContext.parallelize(rows, 4), schema)
      .write.parquet(path)
    texts.length.toLong
  }
}
