package perfbench

import java.nio.file.{Files, Paths}

import scala.collection.mutable.ArrayBuffer

import graft.{GraftSession, SparkEntry}
import org.apache.spark.sql.SparkSession

/** JVM side of the benchmark; `perfbench/run.py` is the entry point.
  *
  *   --workload W --seed N --seconds S --trace 0|1 --inputs DIR --work DIR --out FILE
  *
  * Prepares the seed's inputs ([[Inputs.prepare]]), then times the
  * workload over those files and writes a result file: every call with
  * its time and row count, the outputs to check, and (traced) the
  * per-layer metrics and the trace.
  */
object Main {
  def main(args: Array[String]): Unit = {
    val opt = args.grouped(2).map(a => a(0).stripPrefix("--") -> a(1)).toMap
    val t0 = System.nanoTime()
    val spark = session(opt("work"))
    val sessionMs = (System.nanoTime() - t0) / 1e6
    try new Run(spark, opt, sessionMs).run() finally spark.stop()
  }

  def session(work: String): SparkSession = GraftSession.builder("perfbench")
    .config("spark.local.dir", s"$work/spark-local")
    .config("spark.sql.warehouse.dir", s"$work/spark-warehouse")
    .getOrCreate()
}

/** One measured run of one workload. */
final class Run(val spark: SparkSession, opt: Map[String, String], sessionMs: Double) {
  val workload: String = opt("workload")
  val seconds: Double = opt("seconds").toDouble
  val inputs: String = opt("inputs")
  val work: String = opt("work")
  val trace = new Trace(spark.sparkContext, opt("trace") == "1")
  val sc = spark.sparkContext
  val cores: Int = GraftSession.cpus.toInt
  spark.sparkContext.setLogLevel("ERROR")

  /** One record per call: the first calls (part of set-up) and the timed
    * ones. `check` names the verified output the call's rows must match.
    */
  final case class Call(name: String, kind: String, phase: String, unit: Int,
                        traced: Boolean, ms: Double, rows: Long, inputRows: Long,
                        check: String, error: String)
  val calls: ArrayBuffer[Call] = ArrayBuffer.empty
  val checks: ArrayBuffer[Map[String, Any]] = ArrayBuffer.empty
  val layers = scala.collection.mutable.LinkedHashMap[String, Double]()
  val setupMs = scala.collection.mutable.LinkedHashMap[String, Double]("session_ms" -> sessionMs)

  /** Times one call inside a "call" span; a throw is recorded, not raised. */
  def call(name: String, kind: String, phase: String, unit: Int, check: String,
           inputRows: Long = 0L)(f: => Long): Option[Long] = {
    val t0 = System.nanoTime()
    val r = try Right(trace.span(name, "call")(f)) catch {
      case e: Throwable => Left(s"${e.getClass.getSimpleName}: ${e.getMessage}".take(500))
    }
    calls += Call(name, kind, phase, unit, trace.on, (System.nanoTime() - t0) / 1e6,
      r.getOrElse(-1L), inputRows, check, r.left.toOption.orNull)
    r.toOption
  }

  /** Outside any timing: a full GC lets Spark's ContextCleaner release the
    * previous unit's shuffle and broadcast state before the next starts.
    */
  def drainCleanup(): Unit = { System.gc(); Thread.sleep(500) }

  /** Runs the timed units. `seconds` fixes the amount of work, not a
    * deadline: ceil(seconds / nominal unit seconds) units, so both sides of
    * a comparison time the same calls. The traced run times at least four
    * units, traced and untraced in ABBA order so the warm-up trend across
    * units cancels from the tracing overhead.
    */
  def timedUnits(kind: String, nominalSeconds: Double)(body: Int => Unit): Unit = {
    val n = math.ceil(seconds / nominalSeconds).toInt
    for (i <- 0 until (if (trace.traced) math.max(4, n + n % 2) else math.max(1, n))) {
      drainCleanup()
      trace.on = trace.traced && (i % 4 == 0 || i % 4 == 3)
      trace.span(s"$kind $i", "unit", Map("index" -> i, "traced" -> trace.on))(body(i))
      trace.on = false
    }
  }

  /** The timed units' spans. */
  def units: Seq[Trace.Span] = trace.of("unit").filter(_.attrs.contains("index"))

  def oracleCheck(name: String, output: String): Unit =
    checks += Map("name" -> name, "kind" -> "oracle", "output" -> output,
      "sql" -> SparkEntry.oracleSql(name))

  def run(): Unit = {
    val i0 = System.nanoTime()
    val fingerprint = Inputs.prepare(spark, opt("seed").toLong, inputs)
    setupMs("inputs_ms") = (System.nanoTime() - i0) / 1e6
    val load0 = loadavg()
    workload match {
      case "research" => new Research(this).run()
      case "stream" => new Stream(this).run()
    }
    val load1 = loadavg()
    if (trace.traced) {
      org.apache.spark.PerfbenchBus.drain(sc)
      Layers.fill(this)
      Files.writeString(Paths.get(s"$work/trace.json"), trace.toJson)
    }
    val result = Map(
      "workload" -> workload, "seed" -> opt("seed").toLong, "seconds" -> seconds,
      "traced" -> trace.traced, "cores" -> cores,
      "heap_max_mb" -> Runtime.getRuntime.maxMemory / 1048576L,
      "setup_ms" -> setupMs,
      "calls" -> calls.map(c => Map("name" -> c.name, "kind" -> c.kind, "phase" -> c.phase,
        "unit" -> c.unit, "traced" -> c.traced, "ms" -> c.ms, "rows" -> c.rows,
        "input_rows" -> c.inputRows, "check" -> c.check, "error" -> c.error)),
      "units" -> units.map(u => u.attrs + ("ms" -> u.ms)),
      "checks" -> checks, "layers" -> layers,
      "peak_rss_mb" -> peakRssMb, "loadavg_before" -> load0, "loadavg_after" -> load1)
    Files.writeString(Paths.get(opt("out")),
      Json(result).dropRight(1) + ",\"fingerprint\":" + fingerprint + "}")
  }

  private def loadavg(): String =
    try new String(Files.readAllBytes(Paths.get("/proc/loadavg"))).trim
    catch { case _: Exception => "" }

  /** VmHWM of this JVM: the resident set's high-water mark. */
  private def peakRssMb: Double =
    scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(-1.0)
}
