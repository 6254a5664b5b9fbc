package perfbench

import java.io.File
import java.lang.management.ManagementFactory

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.spark.graftshim.ListenerShim
import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.SparkEntry

/** One timed operation: a query and its phases. */
final case class Op(name: String, layer: String, round: Int, traced: Boolean,
  buildNs: Long, planNs: Long, execNs: Long, wallNs: Long,
  fingerprint: String, error: String)

/** The JVM side of the benchmark. Reads a plan written by `run.py`,
  * sets up a Spark session, runs the planned workload for the planned
  * number of seconds and writes the raw measurements as JSON. All
  * aggregation, checking and metric naming happens in `run.py`.
  *
  *     perfbench.Harness <plan.json> <raw-out.json>
  */
object Harness {
  val mapper: ObjectMapper = new ObjectMapper().registerModule(DefaultScalaModule)

  /** Warehouse layer of a registered query, by name prefix. */
  def layerOf(name: String): String = {
    val prefixes = Seq("q_src_" -> "sources", "q_dwd_" -> "dwd", "q_dwm_" -> "dwm",
      "q_dws_" -> "dws", "q_ads_" -> "ads", "q_asof_" -> "operators",
      "q_range_" -> "operators", "q_skew_" -> "operators", "q_sink_" -> "sinks",
      "q_llm_" -> "llm")
    prefixes.collectFirst { case (p, l) if name.startsWith(p) => l }
      .getOrElse(sys.error(s"no layer for $name"))
  }

  def load1: Double =
    try {
      val src = scala.io.Source.fromFile("/proc/loadavg")
      try src.mkString.split(" ")(0).toDouble finally src.close()
    } catch { case _: Throwable => -1.0 }

  /** Peak resident set of this JVM in MiB (VmHWM). */
  def peakRssMb: Double =
    try {
      val src = scala.io.Source.fromFile("/proc/self/status")
      try src.getLines().find(_.startsWith("VmHWM:"))
        .map(_.split("\\s+")(1).toDouble / 1024).getOrElse(-1.0)
      finally src.close()
    } catch { case _: Throwable => -1.0 }

  /** Heap still reachable after full collections, in MiB: what the
    * run retains (memos, caches, broadcast state). Objects released
    * by cleaners and finalizers need a later collection, so this takes
    * the least of several. */
  def liveHeapMb: Double = {
    val rt = Runtime.getRuntime
    (1 to 4).map { _ =>
      System.gc()
      Thread.sleep(200)
      (rt.totalMemory - rt.freeMemory) / 1048576.0
    }.min
  }

  def session(cores: Int, work: String): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      // Spark's own run history (jobs, stages, SQL executions) grows with
      // run length; capped so the retained heap is the program's
      .config("spark.ui.retainedJobs", "50")
      .config("spark.ui.retainedStages", "50")
      .config("spark.sql.ui.retainedExecutions", "10")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  val Tables = Seq("region", "nation", "customer", "supplier", "part", "orders",
    "lineitem", "events", "documents", "embeddings")

  def main(args: Array[String]): Unit = {
    val mainNs = System.nanoTime()
    val jvmToMainS = (System.currentTimeMillis() -
      ManagementFactory.getRuntimeMXBean.getStartTime) / 1e3
    val plan = mapper.readTree(new File(args(0)))
    val out = new File(args(1))
    val cores = plan.get("cores").asInt
    val work = plan.get("work_dir").asText
    val dataDir = plan.get("data_dir").asText
    val loadStart = load1

    val spark = session(cores, work)
    Tables.foreach(t => spark.read.parquet(s"$dataDir/$t.parquet").schema)
    val tracer = new Tracer
    spark.sparkContext.addSparkListener(tracer)

    val workload = new Runner(spark, tracer, plan)
    val t0 = System.nanoTime()
    val warmOps = workload.warmUp()
    val warmS = (System.nanoTime() - t0) / 1e9
    val normStart = graft.Bench.stateFreeShuffleCpu(spark, plan.get("norm_rows").asLong)
    ListenerShim.drainListenerBus(spark.sparkContext)
    tracer.reset()
    val firstTimedS = (System.nanoTime() - mainNs) / 1e9 + jvmToMainS

    val result = workload.run()
    ListenerShim.drainListenerBus(spark.sparkContext)
    val loadEnd = load1
    val normEnd = graft.Bench.stateFreeShuffleCpu(spark, plan.get("norm_rows").asLong)
    val raw = result ++ Map(
      "warm_ops" -> warmOps,
      "setup" -> Map("jvm_to_main_s" -> jvmToMainS, "warm_s" -> warmS,
        "first_timed_s" -> firstTimedS),
      "spans" -> tracer.snapshot,
      "peak_rss_mb" -> peakRssMb,
      "heap_mb" -> liveHeapMb,
      "env" -> Map("cores" -> cores, "spark" -> spark.version,
        "jdk" -> System.getProperty("java.version"),
        "scala" -> scala.util.Properties.versionNumberString,
        "load1_start" -> loadStart, "load1_end" -> loadEnd,
        "norm_cpu_s_start" -> normStart, "norm_cpu_s_end" -> normEnd))
    mapper.writeValue(out, raw)
    spark.stop()
  }
}

/** Runs passes of registered queries: an untimed warm-up pass, then
  * timed passes; the raw measurements go under "warm_ops", "ops" and
  * "rounds". */
final class Runner(spark: SparkSession, tracer: Tracer, plan: JsonNode) {
  import Harness.layerOf

  private val sc = spark.sparkContext
  private val queries = SparkEntry.queries
  private val trace = plan.get("trace").asBoolean

  private def names(node: JsonNode): Seq[String] = node.elements.asScala.map(_.asText).toSeq
  private val rounds: Seq[Seq[String]] = plan.get("rounds").elements.asScala.map(names).toSeq

  /** Runs one query through its three phases. With `tagged`, each phase
    * runs under its own span tag so the listener attributes its jobs. */
  def runOp(name: String, dir: String, round: Int, tagged: Boolean): Op = {
    val layer = layerOf(name)
    def phase[A](p: String)(body: => A): A =
      if (tagged) Tracer.within(sc, s"$layer/$p")(body) else body
    val t0 = System.nanoTime()
    var t1, t2 = t0
    try {
      val df: DataFrame = phase("build")(queries(name)(spark, dir))
      t1 = System.nanoTime()
      phase("plan")(df.queryExecution.executedPlan)
      t2 = System.nanoTime()
      val fp = phase("exec")(Fingerprint.consume(df))
      val t3 = System.nanoTime()
      Op(name, layer, round, tagged, t1 - t0, t2 - t1, t3 - t2, t3 - t0, fp.toString, null)
    } catch {
      case e: Throwable =>
        val t3 = System.nanoTime()
        Op(name, layer, round, tagged, 0, 0, 0, t3 - t0, null,
          s"${e.getClass.getName}: ${e.getMessage}".take(500))
    }
  }

  private val dir = plan.get("data_dir").asText

  private val warmPasses = plan.get("warm_passes").asInt

  /** The untimed passes: the cold costs a fresh JVM pays once (class
    * loading, code generation, JIT, once-per-JVM memo builds). Their
    * results are checked like the timed ones. */
  def warmUp(): Seq[Op] =
    rounds.take(warmPasses).flatten.map(n => runOp(n, dir, -1, tagged = false))

  def run(): Map[String, Any] = {
    val deadline = System.nanoTime() + (plan.get("seconds").asDouble * 1e9).toLong
    val ops = ArrayBuffer.empty[Op]
    val roundStats = ArrayBuffer.empty[Map[String, Any]]
    var r = warmPasses
    while (r < rounds.size && (r == warmPasses || System.nanoTime() < deadline)) {
      ListenerShim.drainListenerBus(sc)
      val cpu0 = tracer.allCpuNs.get
      val counts0 = tracer.totals
      val t0 = System.nanoTime()
      // Stop at the deadline even mid-round; the first timed round
      // always completes.
      var ran = 0
      rounds(r).iterator.takeWhile(_ => r == warmPasses || System.nanoTime() < deadline).foreach { n =>
        // the wall is timed outside runOp, so the phases' coverage of it
        // is a real check of the span bookkeeping
        val w0 = System.nanoTime()
        val op = runOp(n, dir, r, trace)
        ops += op.copy(wallNs = System.nanoTime() - w0)
        ran += 1
      }
      val wall = System.nanoTime() - t0
      ListenerShim.drainListenerBus(sc)
      val counts = tracer.totals
      def delta(k: String): Long = counts.getOrElse(k, 0L) - counts0.getOrElse(k, 0L)
      roundStats += Map("round" -> r, "wall_ns" -> wall,
        "cpu_ns" -> (tracer.allCpuNs.get - cpu0), "traced" -> trace,
        "jobs" -> delta("jobs"), "tasks" -> delta("tasks"),
        "shuffle_bytes" -> delta("shuffle_bytes"),
        "complete" -> (ran == rounds(r).size))
      r += 1
    }
    Map("ops" -> ops.toSeq, "rounds" -> roundStats.toSeq)
  }
}
