package perfbench

import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row, SparkSession}

/** One workload in one JVM: set up, untimed warm-up rounds, then steady
  * rounds until the run length is used. Writes the raw samples as JSON;
  * `run.py` owns the statistics and the DuckDB checks.
  *
  * Usage: Main --workload W --data DIR --scratch DIR --seconds N --seed S
  *             --trace 0|1 --out FILE
  */
object Main {

  /** One timed operation. `before` and the outputs are untimed: `before`
    * prepares inputs, and each output is a named DataFrame that is
    * fingerprinted every round and dumped for the oracle check in round 0.
    */
  final case class Op(name: String, kind: String, run: () => Seq[(String, () => DataFrame)],
                      before: () => Unit = () => ())

  final case class Sample(name: String, kind: String, round: Int, wallS: Double,
                          cpuS: Double, error: Option[String],
                          mismatch: Option[String], outputs: Seq[String])

  def main(argv: Array[String]): Unit = {
    val a = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val (workloadName, data, scratch) = (a("workload"), a("data"), a("scratch"))
    val nproc = Runtime.getRuntime.availableProcessors
    val spark = SparkSession.builder()
      .master(s"local[$nproc]")
      .appName(s"perfbench-$workloadName")
      // the session posture of graft.Bench and graft.Verify
      .config("spark.sql.shuffle.partitions", nproc.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.shuffle.sort.bypassMergeThreshold", "1")
      .config("spark.local.dir", s"$scratch/spark-local")
      .config("spark.sql.warehouse.dir", s"$scratch/spark-warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val jvmStart = ManagementFactory.getRuntimeMXBean.getStartTime
    val sessionS = (System.currentTimeMillis() - jvmStart) / 1e3
    val workload = Workloads(workloadName, spark, data, scratch, a.getOrElse("seed", "1").toLong)
    workload.tables.foreach(t => spark.read.parquet(s"$data/$t.parquet").schema)
    val setupS = (System.currentTimeMillis() - jvmStart) / 1e3
    val setupCpuS = ManagementFactory.getOperatingSystemMXBean
      .asInstanceOf[com.sun.management.OperatingSystemMXBean].getProcessCpuTime / 1e9
    val out = Paths.get(a("out"))
    val trace = if (a.getOrElse("trace", "0") == "1") Some(new Trace(spark, nproc)) else None
    val runner = new Runner(spark, trace, s"$scratch/dumps")
    val warm = (0 until workload.warmupRounds).map(r => runner.round(workload.nextRound(), r))
    val seconds = a("seconds").toDouble
    val steadyStart = System.nanoTime()
    val steady = mutable.ArrayBuffer.empty[runner.RoundResult]
    while (steady.isEmpty || (System.nanoTime() - steadyStart) / 1e9 < seconds) {
      val r = warm.size + steady.size
      steady += runner.round(workload.nextRound(), r)
    }

    runner.writeDumps()
    val all = warm ++ steady
    val json = Json.obj(
      "setup_s" -> setupS,
      "session_s" -> sessionS,
      "setup_cpu_s" -> setupCpuS,
      "nproc" -> nproc,
      "cold_round_s" -> warm.head.wallS,
      "warmup_rounds" -> workload.warmupRounds,
      "peak_rss_mb" -> peakRssMb(),
      "oracles" -> Json.obj(workload.oracles.toSeq.map { case (k, v) => k -> v }: _*),
      "dumps" -> s"$scratch/dumps",
      "samples" -> all.flatMap(_.samples).map { s =>
        Json.obj("name" -> s.name, "kind" -> s.kind, "round" -> s.round,
          "wall_s" -> s.wallS, "cpu_s" -> s.cpuS,
          "error" -> s.error.orNull, "mismatch" -> s.mismatch.orNull,
          "outputs" -> s.outputs)
      },
      "rounds" -> steady.toSeq.map { r =>
        Json.obj("wall_s" -> r.wallS, "cpu_s" -> r.cpuS,
          "layers" -> Json.obj(r.layers.toSeq: _*))
      })
    Files.write(out, json.text.getBytes(StandardCharsets.UTF_8))
    spark.stop()
  }

  /** The JVM's own peak resident set, from the kernel's high-water mark. */
  private def peakRssMb(): Double =
    Files.readAllLines(Paths.get("/proc/self/status")).asScala
      .find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toDouble / 1024.0)
      .getOrElse(0.0)
}

/** Runs rounds of operations: times each one, fingerprints its outputs
  * untimed, and in the traced run reads the per-layer counters.
  */
final class Runner(spark: SparkSession, trace: Option[Trace], dumpDir: String) {
  import Main.{Op, Sample}

  final case class RoundResult(samples: Seq[Sample], wallS: Double, cpuS: Double,
                               layers: Map[String, Double])

  private val osBean = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]
  private val firstPrint = mutable.Map.empty[String, String]
  private val dumps = mutable.ArrayBuffer.empty[(String, DataFrame)]

  def round(ops: Seq[Op], r: Int): RoundResult = {
    trace.foreach(_.roundStart())
    var build = 0.0
    val samples = ops.map { op =>
      untimed(op.before())
      val c0 = osBean.getProcessCpuTime
      val t0 = System.nanoTime()
      Runner.buildS = 0.0
      val result = try Right(op.run()) catch { case e: Throwable => Left(e) }
      val wall = (System.nanoTime() - t0) / 1e9
      val cpu = (osBean.getProcessCpuTime - c0) / 1e9
      build += Runner.buildS
      result match {
        case Left(e) =>
          Sample(op.name, op.kind, r, wall, cpu,
            Some(s"${e.getClass.getSimpleName}: ${e.getMessage}".take(300)), None, Nil)
        case Right(outs) =>
          Sample(op.name, op.kind, r, wall, cpu,
            None, untimed(check(outs, r)), outs.map(_._1))
      }
    }
    val wall = samples.map(_.wallS).sum
    val layers = trace.map(_.roundEnd(wall, Map("operators.build_ms" -> build * 1e3)))
      .getOrElse(Map.empty)
    RoundResult(samples, wall, samples.map(_.cpuS).sum, layers)
  }

  /** Writes the warm-up outputs for the oracle check, concurrently: each is
    * a one-task job, so together they cost about as much as one.
    */
  def writeDumps(): Unit = {
    import scala.concurrent.{Await, Future}
    import scala.concurrent.ExecutionContext.Implicits.global
    import scala.concurrent.duration.Duration
    dumps.toSeq.map { case (name, df) =>
      Future(df.coalesce(1).write.mode("overwrite").parquet(s"$dumpDir/$name"))
    }.foreach(Await.result(_, Duration.Inf))
  }

  private def untimed[T](body: => T): T = {
    trace.foreach(_.pause())
    try body finally trace.foreach(_.resume())
  }

  /** Fingerprints each output; round 0 also dumps it for the oracle check,
    * later rounds must reproduce round 0's fingerprint.
    */
  private def check(outs: Seq[(String, () => DataFrame)], r: Int): Option[String] =
    outs.flatMap { case (name, df) =>
      try {
        val frame = df()
        val rows = frame.collect()
        val fp = Runner.fingerprint(rows)
        if (r == 0) {
          firstPrint(name) = fp
          dumps += name -> spark.createDataFrame(rows.toList.asJava, frame.schema)
          None
        } else if (!firstPrint.get(name).contains(fp))
          Some(s"$name differs from the checked warm-up output")
        else None
      } catch { case e: Throwable => Some(s"$name check failed: ${e.getMessage}".take(300)) }
    }.headOption
}

object Runner {
  /** Time spent building the current operation's DataFrame, set by
    * [[Workloads.query]]; single-threaded like the round loop itself.
    */
  @volatile var buildS: Double = 0.0

  /** Order-insensitive digest of a result's rows. */
  def fingerprint(rows: Array[Row]): String = {
    val md = java.security.MessageDigest.getInstance("MD5")
    rows.map(_.toString).sorted.foreach { s =>
      md.update(s.getBytes(StandardCharsets.UTF_8)); md.update(0.toByte)
    }
    md.digest().map("%02x".format(_)).mkString
  }
}

/** Just enough JSON for the sample file. */
object Json {
  final case class Raw(text: String)

  def obj(kv: (String, Any)*): Raw =
    Raw(kv.map { case (k, v) => s"${str(k)}:${value(v)}" }.mkString("{", ",", "}"))

  private def str(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""

  private def value(v: Any): String = v match {
    case null => "null"
    case Raw(text) => text
    case s: String => str(s)
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case n: Int => n.toString
    case n: Long => n.toString
    case b: Boolean => b.toString
    case xs: Seq[_] => xs.map(value).mkString("[", ",", "]")
    case other => str(other.toString)
  }
}
