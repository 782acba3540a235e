package perfbench

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Observation, SparkSession}
import org.apache.spark.sql.functions._

import graft.model.{AxisSpec, BBox, GridDataset, GridMeta}
import graft.operators.{Crop, Gssha, PointExtract, SpatialResample, TemporalResample}

/** A workload: seeded inputs plus a pass made of named operations. Each
  * operation returns a check to run after the pass's timing stops; the
  * check yields a digest of the operation's outputs. A pass's digest must
  * equal the untimed cold pass's, and `analytic` pins the keys whose
  * value is known from the generator alone.
  */
trait Workload {
  def ops: Seq[String]
  /** Untimed passes after the cold one; chosen from the pass-time
    * curves recorded in NOTES.md.
    */
  def warmPasses: Int
  /** Span name of an operation. */
  def spanOf(op: String): String
  /** Writes the inputs under `dir`. */
  def setup(seed: Long, dir: String): Unit
  /** Runs `op` into the pass's fresh output directory. The returned
    * check also releases what the operation cached.
    */
  def run(op: String, out: String): () => Map[String, String]
  /** Digest entries known from the generator, per operation. */
  def analytic: Map[String, Map[String, String]] = Map.empty
}

object Workloads {
  def apply(name: String, spark: SparkSession, tracer: Tracer): Workload = name match {
    case "grid-etl" => new GridEtl(spark, tracer)
    case "query-panel" => new QueryPanel(spark)
  }

  /** The seeded corpus of `query-panel` and of the kernel microbench. */
  val CorpusDocs = 1000
  val DupShare = 0.05
}

/** The reference's flagship chain over a 1440 h x 32 x 64 hourly grid:
  * load, crop, daily mean, bilinear x2, point table, GSSHA writers,
  * Parquet sink. Each operator's output is persisted and materialized
  * inside its own span, so the span carries that operator's cost.
  */
final class GridEtl(spark: SparkSession, tracer: Tracer) extends Workload {
  import Inputs.GridSpec
  val ops = Seq("pipeline")
  val warmPasses = 2
  override def spanOf(op: String): String = "pipeline"
  private var spec: GridSpec = _
  private var path: String = _
  // crop: columns 2..61, rows 2..29, days 1..58 of the 60
  private val (cx0, cx1, cy0, cy1, d0, d1) = (2, 61, 2, 29, 1, 58)
  private def lon(jx: Int) = spec.lon0 + jx * spec.step
  private def lat(jy: Int) = spec.lat0 + jy * spec.step
  // bilinear x2 target axes (GDAL geometry over the cropped axes)
  private def xt = AxisSpec(lon(cx0) - spec.step / 4, spec.step / 2, 2 * (cx1 - cx0 + 1))
  private def yt = AxisSpec(lat(cy0) - spec.step / 4, spec.step / 2, 2 * (cy1 - cy0 + 1))
  private val stationCells = Seq((10, 5), (60, 30), (100, 50)) // (x index, y index) on xt/yt
  private val grassDays = 3
  private val t0 = java.time.LocalDateTime.of(2019, 1, 1, 0, 0)
  private val fmt = java.time.format.DateTimeFormatter.ofPattern("yyyy-MM-dd HH:mm:ss")
  private def hourT(h: Int) = t0.plusHours(h).format(fmt)

  def setup(seed: Long, dir: String): Unit = {
    spec = GridSpec(seed)
    path = s"$dir/grid.parquet"
    Inputs.writeGrid(spark, spec, path)
  }

  def run(op: String, out: String): () => Map[String, String] = {
    val meta = GridMeta("bench-grid",
      xAxis = Some(AxisSpec(spec.lon0, spec.step, spec.nx)),
      yAxis = Some(AxisSpec(spec.lat0, spec.step, spec.ny)))
    val g = GridDataset(spark.read.parquet(path), meta)
    val cropped = Crop.time(
      Crop.bbox(g, BBox(lon(cx0), lat(cy0), lon(cx1), lat(cy1))),
      hourT(24 * d0), hourT(24 * (d1 + 1) - 1))
    val daily = tracer.span("operators.temporal_resample") {
      materialize(TemporalResample.downsample(cropped, "1 day", "mean"))
    }
    val up = tracer.span("operators.spatial_resample") {
      materialize(SpatialResample.bilinear(daily, 2.0, 2.0))
    }
    val stations = stationCells.zipWithIndex.map { case ((i, j), n) =>
      (s"p$n", xt.valueAt(i), yt.valueAt(j)) }
    val table = tracer.span("operators.point_extract") {
      PointExtract.pointsToTable(up, stations, "t2m").collect()
    }
    tracer.span("operators.gssha") {
      val gage = s"$out/bench.gag"
      Files.writeString(Paths.get(gage), Gssha.gageHeader(up, "t2m", "bench_event", 1,
        outputEpsg = Some(26915)).mkString("", "\n", "\n"))
      Gssha.writeLines(Gssha.gageRows(up, "t2m", "ACCUM",
        Seq(("bench_event", hourT(24 * d0), hourT(24 * (d1 + 1) - 1)))), "line", gage,
        hotStart = true)
      Gssha.writeLines(Gssha.wesRows(up, Map("t2m" -> "Dry Bulb Temperature",
        "u100" -> "Wind Speed"), roundTo = Some(6)), "line", s"$out/bench.wes")
      val firstDays = up.df.filter(col("time") < lit(hourT(24 * (d0 + grassDays))).cast("timestamp"))
      Gssha.writeGrassFiles(
        Gssha.grassAscii(up.copy(df = firstDays), "t2m", Some("Dry Bulb Temperature")),
        s"$out/grass")
    }
    tracer.span("sinks.parquet") { up.df.write.parquet(s"$out/grid.parquet") }
    () => {
      daily.df.unpersist(); up.df.unpersist()
      digest(out, table.map(r => (1 to stations.size).map(r.getDouble).sum).sum, table.length)
    }
  }

  private def materialize(g: GridDataset): GridDataset = {
    val df = g.df.persist(); df.count(); g.copy(df = df)
  }

  private def lines(p: String): Int = Files.readAllLines(Paths.get(p)).size

  private def digest(out: String, pointSum: Double, pointRows: Int): Map[String, String] = {
    val r = spark.read.parquet(s"$out/grid.parquet")
      .select(
        round((col("x") - lit(xt.origin)) / lit(xt.step)).cast("long").as("i"),
        round((col("y") - lit(yt.origin)) / lit(yt.step)).cast("long").as("j"),
        datediff(col("time"), lit("2019-01-01").cast("date")).as("d"), col("t2m"), col("u100"))
      .agg(count(lit(1)), sum("t2m"), sum("u100"),
        sum(col("t2m") * (col("i") % 7 + 1)), sum(col("u100") * (col("j") % 5 + 1)),
        sum(col("t2m") * (col("d") % 3 + 1)))
      .head()
    val grass = Files.list(Paths.get(s"$out/grass")).iterator().asScala.toSeq
    Map("rows" -> r.getLong(0).toString,
      "sums" -> (1 to 5).map(i => r.getDouble(i).toString).mkString(","),
      "point_rows" -> pointRows.toString, "point_sum" -> pointSum.toString,
      "gage_lines" -> lines(s"$out/bench.gag").toString,
      "wes_lines" -> lines(s"$out/bench.wes").toString,
      "grass_files" -> grass.size.toString,
      "grass_lines" -> grass.map(p => lines(p.toString)).sum.toString,
      "gssha_crc" -> (Seq(s"$out/bench.gag", s"$out/bench.wes") ++ grass.map(_.toString).sorted)
        .map(p => crc(p)).mkString(","))
  }

  private def crc(p: String): Long = {
    val c = new java.util.zip.CRC32; c.update(Files.readAllBytes(Paths.get(p))); c.getValue
  }

  /** The digest's generator-known entries, computed in plain Scala from
    * the value formula: daily means, then the bilinear x2 weights of the
    * GDAL half-pixel geometry with edge replication.
    */
  override def analytic: Map[String, Map[String, String]] = {
    val (nx, ny, nd) = (cx1 - cx0 + 1, cy1 - cy0 + 1, d1 - d0 + 1)
    val mean = Array.ofDim[Double](2, nd, ny, nx)
    for (v <- 0 to 1; d <- 0 until nd; j <- 0 until ny; i <- 0 until nx)
      mean(v)(d)(j)(i) = (0 until 24).map(h =>
        spec.value(v, 24 * (d0 + d) + h, cy0 + j, cx0 + i)).sum / 24.0
    def bracket(t: Double, n: Int) = {
      val f = math.floor(t)
      def clamp(k: Long) = math.max(0L, math.min(n - 1L, k)).toInt
      (clamp(f.toLong), clamp(f.toLong + 1), t - f)
    }
    val sums = new Array[Double](5)
    var pointSum = 0.0
    for (d <- 0 until nd; b <- 0 until yt.n; a <- 0 until xt.n) {
      val (x0, x1, wx) = bracket((xt.valueAt(a) - lon(cx0)) / spec.step, nx)
      val (y0, y1, wy) = bracket((yt.valueAt(b) - lat(cy0)) / spec.step, ny)
      def at(v: Int) = mean(v)(d)(y0)(x0) * ((1 - wy) * (1 - wx)) +
        mean(v)(d)(y0)(x1) * ((1 - wy) * wx) + mean(v)(d)(y1)(x0) * (wy * (1 - wx)) +
        mean(v)(d)(y1)(x1) * (wy * wx)
      val (t, u) = (at(0), at(1))
      sums(0) += t; sums(1) += u; sums(2) += t * (a % 7 + 1); sums(3) += u * (b % 5 + 1)
      sums(4) += t * ((d0 + d) % 3 + 1)
      if (stationCells.contains((a, b))) pointSum += t
    }
    val grassLines = grassDays * (6 + yt.n)
    Map("pipeline" -> Map(
      "rows" -> (nd.toLong * xt.n * yt.n).toString, "sums" -> sums.mkString(","),
      "point_rows" -> nd.toString, "point_sum" -> pointSum.toString,
      "gage_lines" -> (3 + xt.n * yt.n + nd).toString, "wes_lines" -> nd.toString,
      "grass_files" -> grassDays.toString, "grass_lines" -> grassLines.toString))
  }
}

/** Four `SparkEntry.queries` entries over the seeded corpus through the
  * `noop` sink, one operation (and span) per query. The digest (row
  * count plus two order-independent row-hash folds) rides the sink's own
  * execution as an `Observation`, so checking costs no second run.
  */
final class QueryPanel(spark: SparkSession) extends Workload {
  val ops = QueryPanel.Queries
  val warmPasses = 3
  override def spanOf(op: String): String = "panel." + op
  private val queries = graft.SparkEntry.queries
  private var dir: String = _
  def setup(seed: Long, dir: String): Unit = {
    this.dir = dir
    Inputs.writeDocuments(spark, seed, Workloads.CorpusDocs, Workloads.DupShare,
      s"$dir/documents.parquet")
  }
  def run(op: String, out: String): () => Map[String, String] = {
    val df = queries(op)(spark, dir)
    val h = xxhash64(df.columns.map(col).toIndexedSeq: _*)
    val obs = Observation(op)
    df.observe(obs, count(lit(1)).as("rows"), bit_xor(h).as("xor"),
        sum(pmod(h, lit(1000000007L))).as("sum"))
      .write.format("noop").mode("overwrite").save()
    val m = obs.get
    () => m.map { case (k, v) => k -> v.toString }
  }
}

object QueryPanel {
  /** The incremental near-dup ladder (n150), dangling PageRank (n136),
    * duplicated spans (n34) and k-core (n107).
    */
  val Queries = Seq("n150_incremental_neardup", "n136_pagerank_dangling", "n34_dup_spans",
    "n107_kcore")
}
