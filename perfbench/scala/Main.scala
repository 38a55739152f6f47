package perfbench

import java.nio.file.{Files, Path, Paths}

import org.apache.spark.sql.SparkSession

/** The benchmark's engine side: build the seed-free inputs, set up, run a
  * workload closed-loop for a fixed time, dump what the checker needs,
  * write `result.json`. Driven by `perfbench/run.py` (perfbench/README.md).
  *
  * Usage: Main corpus <dataDir> <outDir>
  *        Main <workload> <stageDir> <buckets> <seconds> <trace 0|1> <outDir> */
object Main {
  val Cores: Int = math.min(4, Runtime.getRuntime.availableProcessors())

  def newSession(tmp: Path): SparkSession = {
    val s = SparkSession.builder()
      .withExtensions(new graft.plans.GraftExtensions)
      .config("spark.sql.catalog.graft", "graft.sources.GraftCatalog")
      .master(s"local[$Cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", Cores)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", tmp.resolve("spark").toString)
      .config("spark.hadoop.fs.file.impl", classOf[graft.table.NoForkLocalFileSystem].getName)
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  def main(args: Array[String]): Unit = {
    val tmp = Paths.get(System.getProperty("java.io.tmpdir"))
    if (args(0) == "corpus") {
      val spark = newSession(tmp)
      Stage.corpus(spark, args(1), Paths.get(args(2)))
      spark.stop()
      return
    }
    val Array(workload, stageS, bucketsS, secondsS, traceS, outS) = args
    val stage   = Paths.get(stageS)
    val buckets = bucketsS.toInt
    val seconds = secondsS.toDouble
    val traced  = traceS == "1"
    val out     = Paths.get(outS)
    Files.createDirectories(out)
    val tStart = System.nanoTime()
    def log(what: String): Unit =
      System.err.println(f"perfbench: $what at ${(System.nanoTime() - tStart) / 1e9}%.1f s")
    var spark = newSession(tmp)
    if (workload == "trickle_mor") Stage.ensureBase(spark, stage, buckets)
    log("staged")

    // ---- set-up, three times: session start + staged-input load + table
    val setupS = (0 until 3).map { i =>
      spark.stop()
      val t0 = System.nanoTime()
      spark = newSession(tmp)
      val w = new Workload(spark, workload, stage, buckets, tmp.resolve(s"setup-$i"), traced = false)
      w.load()
      w.prepareTable(0)
      val dt = (System.nanoTime() - t0) / 1e9
      w.dropTable(0)
      dt
    }
    val bench = new Workload(spark, workload, stage, buckets, tmp.resolve("cycles"), traced)
    bench.load()
    log("set up")

    // ---- untimed full-size warm pass, then the timed closed loop
    bench.cycle(0, record = false, withTrace = false)
    log("warmed")
    val calib = Host.calibMs()
    val (measured, steal) = Host.stealPctOver {
      val t0 = System.nanoTime()
      var c = 1
      // a traced run alternates traced and untraced cycles (overhead)
      while (c == 1 || (System.nanoTime() - t0) / 1e9 < seconds || (traced && c <= 2)) {
        bench.cycle(c, record = true, withTrace = traced && c % 2 == 1)
        c += 1
      }
      c - 1
    }
    log(s"measured $measured cycles")
    val extra = if (traced) bench.standalone() else Map.empty[String, Double]
    bench.dumpFinal(out)
    bench.writeResult(out, setupS, measured, calib, steal, extra)
    log("done")
    spark.stop()
  }
}

/** Host-health metadata, recorded per run (not metrics). */
object Host {
  /** A fixed single-thread ALU loop; its time witnesses per-core speed. */
  def calibMs(): Double = {
    var x = 0x9e3779b97f4a7c15L
    var i = 0
    val t0 = System.nanoTime()
    while (i < 100000000) {
      x = java.lang.Long.rotateLeft(x * 0x100000001b3L, 31) ^ i
      i += 1
    }
    val dt = (System.nanoTime() - t0) / 1e6
    if (x == 42L) System.err.println("calib sentinel")
    dt
  }

  private def cpuStat(): (Long, Long) =
    try {
      val src = scala.io.Source.fromFile("/proc/stat")
      try {
        val f = src.getLines().next().trim.split("\\s+").drop(1).map(_.toLong)
        val idle = (if (f.length > 3) f(3) else 0L) + (if (f.length > 4) f(4) else 0L)
        (f.sum - idle, if (f.length > 7) f(7) else 0L)
      } finally src.close()
    } catch { case scala.util.control.NonFatal(_) => (0L, 0L) }

  /** Run `body`; return it with the steal share (%) of busy CPU time. */
  def stealPctOver[A](body: => A): (A, Double) = {
    val (b0, s0) = cpuStat()
    val a = body
    val (b1, s1) = cpuStat()
    (a, if (b1 - b0 <= 0) 0.0 else 100.0 * (s1 - s0) / (b1 - b0))
  }

  def gcMs(): Long = {
    import scala.jdk.CollectionConverters._
    java.lang.management.ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime).sum
  }
}
