package perfbench

import java.io.File
import java.lang.management.ManagementFactory

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.SparkEntry
import graft.pipeline.NightlyRun

/** JVM side of the benchmark (`perfbench/run.py` launches it; see
  * perfbench/README.md). One run: three set-ups on fresh sessions over an
  * emptied private tmpdir, then a closed loop of a fixed number of passes
  * (run.py sizes it from `--seconds`; `--cap-seconds` stops it early on an
  * overloaded machine), then the correctness checks.
  * Writes raw measurements as JSON to `--out` and, for a traced run, the
  * spans to `--spans`.
  *
  * Args (all `--key value`): workload, seed, passes, cap-seconds, trace (0|1),
  * data (sf dir), queries (comma list; query workloads), expect
  * (`name=rows,...`), out, spans, launch-ms (epoch ms of the launch).
  */
object BenchMain {
  val Cores = 4
  val SetupReps = 3
  // nightly_tick shape
  val Stores = 300L
  val MartAge = 4
  val WarmTicks = 1

  final case class OpResult(id: Int, name: String, pass: Int, traced: Boolean, wallS: Double,
                            cpuS: Double, buildS: Double, ok: Boolean, detail: String,
                            layers: Map[String, Double])
  object OpResult {
    def setup(name: String, t0: Long, r: (Double, Boolean, String, Map[String, Double])): OpResult =
      OpResult(0, name, 0, traced = false, (System.nanoTime() - t0) / 1e9, 0.0, r._1, r._2, r._3,
        Map.empty)
  }
  final case class PassResult(idx: Int, traced: Boolean, wallS: Double, cpuS: Double)

  private def processCpuNs(): Long =
    ManagementFactory.getOperatingSystemMXBean
      .asInstanceOf[com.sun.management.OperatingSystemMXBean].getProcessCpuTime

  private def rssPeakMb(): Double = {
    val src = scala.io.Source.fromFile("/proc/self/status")
    try src.getLines().find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(0.0)
    finally src.close()
  }

  private def now(): Long = System.currentTimeMillis()

  def newSession(): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$Cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", Cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.extensions", "graft.plans.GraftExtensions")
      .config("spark.sql.warehouse.dir",
        System.getProperty("java.io.tmpdir") + "/graft_warehouse")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  /** Empties the private tmpdir between set-ups, so every content-keyed
    * artifact is built again exactly as in the first one. */
  private def clearTmp(): Unit = {
    val tmp = new File(System.getProperty("java.io.tmpdir"))
    Option(tmp.listFiles()).getOrElse(Array.empty).foreach(f => graft.ops.FsOps.rmTree(f))
  }

  /** One workload: its set-up after a fresh session, and its ops. */
  trait Workload {
    def setup(spark: SparkSession, record: OpResult => Unit): Unit
    /** Op names of one pass, in the seed's order for pass `p`. */
    def passOps(p: Int): Seq[String]
    /** Runs one op; returns (build seconds, ok, detail, the op's own
      * counters as per-layer values). */
    def run(spark: SparkSession, op: String): (Double, Boolean, String, Map[String, Double])
    /** Checks after the timed loop: (number of checks, failures). */
    def finish(spark: SparkSession): (Int, Seq[(String, String)])
    def extraJson(): String = ""
  }

  final class QueryWorkload(seed: Long, data: String, names: Seq[String],
                            expect: Map[String, Long]) extends Workload {
    private val registry = SparkEntry.queries
    require(names.forall(registry.contains),
      "unknown queries: " + names.filterNot(registry.contains).mkString(","))
    require(names.forall(expect.contains),
      "no expected count for: " + names.filterNot(expect.contains).mkString(","))

    def passOps(p: Int): Seq[String] =
      new scala.util.Random(seed * 1000003L + p).shuffle(names)

    /** The cold pass, then one warm-up pass: the first pass after it is
      * otherwise 15-25% dearer than the rest. */
    def setup(spark: SparkSession, record: OpResult => Unit): Unit =
      Seq(0, -1).foreach(p => passOps(p).foreach { n =>
        val t0 = System.nanoTime()
        record(OpResult.setup(n, t0, run(spark, n)))
      })

    def run(spark: SparkSession, op: String): (Double, Boolean, String, Map[String, Double]) = {
      val t0 = System.nanoTime()
      val df = registry(op)(spark, data)
      val b = (System.nanoTime() - t0) / 1e9
      val rows = df.count()
      val want = expect(op)
      (b, rows == want, if (rows == want) "" else s"count $rows, expected $want", Map.empty)
    }

    def finish(spark: SparkSession): (Int, Seq[(String, String)]) = (0, Nil)
  }

  final class NightlyWorkload(seed: Long) extends Workload {
    private var martDir: String = _
    private var night = 0
    private var calls: org.apache.spark.util.LongAccumulator = _
    private var accepted: org.apache.spark.util.LongAccumulator = _
    private var nanos: org.apache.spark.util.LongAccumulator = _
    private var martFiles = 0L
    private var martBytes = 0L
    private var martRows = 0L

    def passOps(p: Int): Seq[String] = Seq("tick")

    def setup(spark: SparkSession, record: OpResult => Unit): Unit = {
      val sc = spark.sparkContext
      calls = sc.longAccumulator("fetch_calls")
      accepted = sc.longAccumulator("fetch_accepted")
      nanos = sc.longAccumulator("fetch_nanos")
      martDir = new File(System.getProperty("java.io.tmpdir"), "perfbench_mart").toString
      // the build tick covers [0, age-1]; warm-up ticks then age the mart
      night = MartAge - 2
      val t0 = System.nanoTime()
      record(OpResult.setup("build_tick", t0, runTick(spark, 0)))
      (1 to WarmTicks).foreach { _ =>
        val t1 = System.nanoTime()
        record(OpResult.setup("tick", t1, run(spark, "tick")))
      }
    }

    def run(spark: SparkSession, op: String): (Double, Boolean, String, Map[String, Double]) =
      runTick(spark, night)

    /** Night `night + 1` over the dates `[lo, night + 1]`. */
    private def runTick(spark: SparkSession, lo: Int): (Double, Boolean, String, Map[String, Double]) = {
      night += 1
      val (c0, a0, n0) = (calls.value.longValue, accepted.value.longValue, nanos.value.longValue)
      val t0 = System.nanoTime()
      val transport = new SeededTransport(seed, Stores, night, calls, accepted, nanos)
      import spark.implicits._
      val dim: DataFrame = (0L until Stores by 3L).map(s => (s, s"region_${s % 8}"))
        .toDF("store_id", "region_nm")
      val b = (System.nanoTime() - t0) / 1e9
      val r = NightlyRun.run(spark, martDir, Stores, NightlyModel.date(lo),
        NightlyModel.date(night), transport, dim)
      val c = calls.value - c0
      (b, r.gatePassed,
        if (r.gatePassed) "" else s"night $night gate: " + r.gate.filterNot(_.passed).map(_.check).mkString(","),
        Map(
          "pipeline.decoded_rows" -> r.decoded.toDouble,
          "pipeline.merged_rows" -> r.merged.toDouble,
          "sources.fetch_calls" -> c.toDouble,
          "sources.fetch_s" -> (nanos.value - n0) / 1e9,
          "sources.accept_ratio" -> (if (c == 0) 0.0 else (accepted.value - a0).toDouble / c)))
    }

    /** Compares the mart after the last tick with the closed form. */
    def finish(spark: SparkSession): (Int, Seq[(String, String)]) = {
      val got = spark.read.parquet(martDir)
        .groupBy(col("sale_d").cast("string").as("d"))
        .agg(count(lit(1)).as("n"), sum(col("k")).as("sk"),
          bit_xor(xxhash64(col("id"), col("store_id"), col("k"))).as("x"))
        .collect().map(r => r.getString(0) ->
          NightlyModel.DateSum(r.getLong(1), r.getLong(2), r.getLong(3))).toMap
      val want = NightlyModel.expected(seed, Stores, MartAge, night)
      val files = Option(new File(martDir).listFiles()).getOrElse(Array.empty)
        .filter(_.isDirectory).flatMap(_.listFiles()).filter(_.getName.endsWith(".parquet"))
      martFiles = files.length.toLong
      martBytes = files.map(_.length).sum
      martRows = got.values.map(_.rows).sum
      val diff = (got.keySet ++ want.keySet).toSeq.sorted
        .filter(d => got.get(d) != want.get(d))
      (1, diff.take(3).map(d => "mart oracle" ->
        s"date $d: got ${got.get(d)}, expected ${want.get(d)}"))
    }

    override def extraJson(): String =
      s""","mart":{"nights":$night,"files":$martFiles,"bytes":$martBytes,"rows":$martRows}"""
  }

  def jstr(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""; case '\\' => "\\\\"; case '\n' => "\\n"
      case c if c < ' ' => f"\\u${c.toInt}%04x"; case c => c.toString
    } + "\""

  private def jmap(m: Map[String, Double]): String =
    m.toSeq.sortBy(_._1).map { case (k, v) => s"${jstr(k)}:$v" }.mkString("{", ",", "}")

  def main(argv: Array[String]): Unit = {
    val args = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workloadName = args("workload")
    val seed = args("seed").toLong
    val passCount = args("passes").toInt
    val capMs = (args("cap-seconds").toDouble * 1000).toLong
    val traceOn = args("trace") == "1"
    val launchMs = args("launch-ms").toLong
    val expect = args.getOrElse("expect", "").split(",").filter(_.nonEmpty)
      .map { kv => val Array(k, v) = kv.split("="); k -> v.toLong }.toMap

    val workload: Workload = workloadName match {
      case "nightly_tick" => new NightlyWorkload(seed)
      case _ => new QueryWorkload(seed, args("data"),
        args("queries").split(",").toSeq, expect)
    }

    val setupOps = ArrayBuffer.empty[OpResult]
    val setups = ArrayBuffer.empty[Double]
    var spark: SparkSession = null
    (1 to SetupReps).foreach { rep =>
      val t0 = if (rep == 1) launchMs else now()
      if (spark != null) { spark.stop(); clearTmp() }
      spark = newSession()
      println(s"[perfbench] set-up $rep: session ready after ${(now() - t0) / 1e3} s")
      workload.setup(spark, setupOps += _)
      setups += (now() - t0) / 1e3
    }

    val tracer = new Tracer(spark)
    val ops = ArrayBuffer.empty[OpResult]
    val passes = ArrayBuffer.empty[PassResult]
    var opSeq = 0
    val m0 = now()
    (1 to passCount).iterator.takeWhile(p => p <= 2 || now() - m0 < capMs).foreach { p =>
      // a traced run interleaves untraced and traced passes
      val traced = traceOn && p % 2 == 0
      if (traced) tracer.start()
      val c0 = processCpuNs()
      val w0 = System.nanoTime()
      workload.passOps(p).foreach { name =>
        opSeq += 1
        if (traced) tracer.beginOp(opSeq)
        val s0 = now()
        val o0 = System.nanoTime()
        val oc0 = processCpuNs()
        val (b, ok, detail, own) =
          try workload.run(spark, name)
          catch { case e: Throwable =>
            (0.0, false, s"threw ${e.getClass.getSimpleName}: ${e.getMessage}", Map.empty[String, Double]) }
        val wall = (System.nanoTime() - o0) / 1e9
        val cpu = (processCpuNs() - oc0) / 1e9
        val e0 = now()
        val layers = if (traced) {
          tracer.settle()
          tracer.endOp(opSeq, name, s0, e0)
          tracer.layers(opSeq) ++ own + ("queries.build_s" -> b)
        } else own
        ops += OpResult(opSeq, name, p, traced, wall, cpu, b, ok, detail, layers)
      }
      // a traced pass's wall includes its settle jobs: that cost is the
      // tracing overhead the run reports
      passes += PassResult(p, traced, (System.nanoTime() - w0) / 1e9,
        (processCpuNs() - c0) / 1e9)
      if (traced) tracer.stop()
    }

    val (checks, failedChecks) = workload.finish(spark)
    val rss = rssPeakMb()
    spark.stop()

    val failures = (setupOps ++ ops).filterNot(_.ok).map(o => o.name -> o.detail) ++ failedChecks
    def opJson(o: OpResult): String =
      s"""{"id":${o.id},"name":${jstr(o.name)},"pass":${o.pass},"traced":${o.traced},"wall_s":${o.wallS},""" +
        s""""cpu_s":${o.cpuS},"build_s":${o.buildS},"ok":${o.ok},"layers":${jmap(o.layers)}}"""
    val out = new StringBuilder
    out ++= s"""{"workload":${jstr(workloadName)},"seed":$seed,"trace":$traceOn,"cores":$Cores,"""
    out ++= s""""setup_s":${setups.mkString("[", ",", "]")},"rss_peak_mb":$rss,"""
    out ++= s""""passes":${passes.map(q => s"""{"idx":${q.idx},"traced":${q.traced},"wall_s":${q.wallS},"cpu_s":${q.cpuS}}""").mkString("[", ",", "]")},"""
    out ++= s""""ops":${ops.map(opJson).mkString("[", ",", "]")},"""
    out ++= s""""setup_ops":${setupOps.map(opJson).mkString("[", ",", "]")},"""
    out ++= s""""checks":$checks,"failed_checks":${failedChecks.size.min(1)},"""
    out ++= s""""failures":${failures.map { case (n, d) => s"[${jstr(n)},${jstr(d)}]" }.mkString("[", ",", "]")}"""
    out ++= workload.extraJson()
    out ++= "}"
    java.nio.file.Files.write(java.nio.file.Paths.get(args("out")),
      out.toString.getBytes("UTF-8"))
    if (traceOn) {
      val sp = tracer.spans.sortBy(s => (s.start, s.id)).map { s =>
        s"""{"id":${jstr(s.id)},"parent":${jstr(s.parent)},"op":${s.op},"kind":${jstr(s.kind)},""" +
          s""""name":${jstr(s.name)},"start":${s.start},"end":${s.end}}"""
      }
      java.nio.file.Files.write(java.nio.file.Paths.get(args("spans")),
        sp.mkString("", "\n", "\n").getBytes("UTF-8"))
    }
  }
}
