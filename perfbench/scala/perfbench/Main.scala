package perfbench

import java.io.File
import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.util.{Failure, Success, Try}

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.GraftFunctions

/** The benchmark's JVM side; run through perfbench/run.py, which builds
  * the classpath and passes the work and trace paths.
  *
  * One run: start the session, generate the seeded inputs, run an
  * untimed cold pass (its digests become the expected values; entries
  * the generator determines are checked against it), the workload's
  * fixed number of untimed warm passes, then timed passes for
  * `--seconds` under a closed loop with one client. Every pass ends
  * with a full GC, taken before the pass's caches are released: the
  * heap left in use is the pass's live set, and no pass inherits
  * another's garbage. The last stdout line is the result JSON.
  */
object Main {
  val Cores = 4
  val MinTimedPasses = 3

  final case class PassResult(seconds: Double, liveHeapBytes: Long, attempted: Int, failed: Int,
                              storedBytes: Long, files: Int, persistedRdds: Int,
                              blockMemMb: Double, counts: Map[String, Long], traced: Boolean)

  def main(args: Array[String]): Unit = {
    val opt = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val (workload, seed, seconds) = (opt("workload"), opt("seed").toLong, opt("seconds").toInt)
    val trace = opt("trace") == "1"
    val work = opt("work-dir")
    val startMs = ManagementFactory.getRuntimeMXBean.getStartTime
    // long call stacks let the traced run attribute jobs to library lines
    if (trace) System.setProperty("spark.callstack.depth", "1000")

    val spark = SparkSession.builder()
      .master(s"local[$Cores]").appName("perfbench")
      .config("spark.sql.shuffle.partitions", Cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      // the status store keeps every execution's plan text and every
      // job's data; small caps keep the live heap about the program's
      // own state, whatever number of passes a run fits in
      .config("spark.sql.ui.retainedExecutions", "20")
      .config("spark.ui.retainedJobs", "100")
      .config("spark.ui.retainedStages", "100")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    try run(spark, workload, seed, seconds, trace, work, opt("trace-out"), startMs)
    finally spark.stop()
  }

  private def run(spark: SparkSession, workload: String, seed: Long, seconds: Int,
                  trace: Boolean, work: String, traceOut: String, startMs: Long): Unit = {
    val tracer = new Tracer(spark)
    val wl = Workloads(workload, spark, tracer)
    val inputs = Files.createTempDirectory(Paths.get(work), "inputs-").toString
    wl.setup(seed, inputs)
    val inputBytes = du(new File(inputs))
    val analytic = wl.analytic

    var expected: Map[String, Map[String, String]] = Map.empty
    def runPass(n: Int, traced: Boolean): PassResult = {
      tracer.setTraced(traced)
      tracer.pass = n
      val out = Files.createTempDirectory(Paths.get(work), s"pass$n-").toString
      val before = tracer.snapshot()
      val t0 = System.nanoTime()
      val checks = tracer.span("pass") {
        wl.ops.map(op => op -> Try(tracer.span(wl.spanOf(op))(wl.run(op, out))))
      }
      val secs = (System.nanoTime() - t0) / 1e9
      val counts = tracer.snapshot().map { case (k, v) => k -> (v - before(k)) }
      val liveHeap = LiveHeap.collectAndMeasure()
      val digests = checks.map { case (op, c) => op -> c.flatMap(f => Try(f())) }
      if (expected.isEmpty) expected = digests.map {
        case (op, Success(d)) =>
          val want = analytic.getOrElse(op, Map.empty)
          val bad = want.filter { case (k, v) => !d.get(k).contains(v) }
          require(bad.isEmpty, s"$op: outputs differ from the generator's values: " +
            bad.map { case (k, v) => s"$k=${d.getOrElse(k, "-")} (want $v)" }.mkString(", "))
          op -> d
        case (op, Failure(e)) => throw new IllegalStateException(s"cold pass: $op failed", e)
      }.toMap
      val failed = digests.count {
        case (op, Success(d)) => d != expected(op)
        case (op, Failure(e)) =>
          System.err.println(s"pass $n: $op failed: $e"); true
      }
      val stored = du(new File(out))
      val files = countFiles(new File(out))
      deleteTree(new File(out))
      spark.catalog.clearCache()
      val sc = spark.sparkContext
      PassResult(secs, liveHeap, wl.ops.size, failed, stored, files, sc.getPersistentRDDs.size,
        sc.getRDDStorageInfo.map(_.memSize).sum / 1048576.0, counts, traced)
    }

    val warm = (0 to wl.warmPasses).map(n => runPass(n, traced = false).seconds)
    val setupS = (System.currentTimeMillis() - startMs) / 1000.0

    // timed passes; a traced run alternates traced and untraced passes so
    // their difference is the tracing overhead
    val timed = mutable.ArrayBuffer.empty[PassResult]
    val tStart = System.nanoTime()
    while (timed.size < (if (trace) 2 * MinTimedPasses else MinTimedPasses) ||
        (System.nanoTime() - tStart) / 1e9 < seconds)
      timed += runPass(warm.size + timed.size,
        traced = trace && timed.size % 2 == 0)
    tracer.setTraced(false)

    val attempted = timed.map(_.attempted).sum
    val failed = timed.map(_.failed).sum
    val passS = median(timed.map(_.seconds))
    println(s"perfbench $workload seed=$seed trace=${if (trace) 1 else 0}: " +
      s"warm-up passes ${warm.map(s => f"$s%.3f").mkString(" ")} s; " +
      s"${timed.size} timed passes ${timed.map(p => f"${p.seconds}%.3f").mkString(" ")} s")

    val metrics: Seq[(String, Double, String)] =
      if (!trace) Seq(
        ("setup_s", setupS, "s"),
        ("pass_s", passS, "s"),
        ("live_heap_peak_mb", timed.map(_.liveHeapBytes).max / 1048576.0, "MB"))
      else {
        val kernels = Kernels.run(spark, work, seed)
        val tr = timed.filter(_.traced).toSeq
        val un = timed.filterNot(_.traced).toSeq
        val overhead = median(tr.map(_.seconds)) / median(un.map(_.seconds)) - 1
        val layer = Report.perLayer(tracer, tr, inputBytes) ++ kernels ++
          Seq(("trace.overhead_share", overhead, "ratio"))
        Report.writeTrace(traceOut, workload, seed, tracer, warm, timed.toSeq,
          layer, setupS)
        layer
      }
    metrics.foreach { case (n, v, u) => println(f"  $n%-44s $v%14.4f $u") }
    println(Report.resultJson(failed == 0, attempted, failed, metrics))
  }

  def median(xs: scala.collection.Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) Double.NaN
    else if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  def du(f: File): Long =
    if (f.isDirectory) Option(f.listFiles).toSeq.flatten.map(du).sum else f.length

  def countFiles(f: File): Int =
    if (f.isDirectory) Option(f.listFiles).toSeq.flatten.map(countFiles).sum else 1

  def deleteTree(f: File): Unit = {
    if (f.isDirectory) Option(f.listFiles).toSeq.flatten.foreach(deleteTree)
    f.delete()
  }
}

/** Microbenchmarks of three codegen kernels: each runs its
  * `GraftFunctions` call over the seeded corpus (repeated 20x so
  * the kernel, not job start-up, dominates) through the `noop` sink.
  */
object Kernels {
  val Repeat = 20
  val Reps = 3

  def run(spark: SparkSession, work: String, seed: Long): Seq[(String, Double, String)] = {
    val dir = Files.createTempDirectory(Paths.get(work), "kernels-").toString
    Inputs.writeDocuments(spark, seed, Workloads.CorpusDocs, Workloads.DupShare,
      s"$dir/documents.parquet")
    val corpus = spark.read.parquet(s"$dir/documents.parquet")
      .crossJoin(spark.range(Repeat).toDF("rep"))
      .select(col("doc_id"), concat(col("text"), lit(" r"), col("rep").cast("string")).as("text"))
      .persist()
    val rows = corpus.count()
    val sets = corpus.select(GraftFunctions.word_shingle_set(col("text")).as("a"),
        GraftFunctions.word_shingle_set(concat(lit("a "), col("text"))).as("b"))
      .persist()
    sets.count()
    def rate(name: String, df: => org.apache.spark.sql.DataFrame) = {
      val times = (1 to Reps).map { _ =>
        val t0 = System.nanoTime()
        df.write.format("noop").mode("overwrite").save()
        (System.nanoTime() - t0) / 1e9
      }
      (s"kernels.${name}_rows_per_s", rows / Main.median(times), "1/s")
    }
    val out = Seq(
      rate("minhash_words", corpus.select(GraftFunctions.minhash_words(col("text")))),
      rate("word_shingle_set", corpus.select(GraftFunctions.word_shingle_set(col("text")))),
      rate("sorted_intersect_count",
        sets.select(GraftFunctions.sorted_intersect_count(col("a"), col("b")))))
    corpus.unpersist(); sets.unpersist()
    Main.deleteTree(new File(dir))
    out
  }
}
