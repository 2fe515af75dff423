package perfbench

import scala.util.Random

import org.apache.hadoop.fs.Path
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

import graft.SparkEntry
import graft.operators.{Pipeline, StarPipeline}
import graft.streaming.StreamOps

import Main.Op

/** A workload: the operations of its next round and the DuckDB oracle for
  * each output a round checks. Both workloads read the same input tables,
  * which set-up resolves.
  */
trait Workload {
  val tables: Seq[String] = Seq("region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events")
  /** Untimed rounds before the steady rounds: enough for the JIT to settle. */
  def warmupRounds: Int
  def nextRound(): Seq[Op]
  def oracles: Map[String, String]
}

object Workloads {

  /** Dashboard refresh: the seven topic aggregates and three EDA panels,
    * all read-only with small results.
    */
  val dashboardQueries: Seq[String] = Seq(
    "q_k1_signals_by_state", "q_k2_signals_vs_lesions", "q_k3_weather_light",
    "q_k4_accidents_by_time", "q_k5_lesions_by_county", "q_k6_infra_vs_lesions",
    "q_k7_crossings_vs_lesions",
    "q_a3_count_star", "q_a7_null_audit", "q_a9_by_year")

  def apply(name: String, s: SparkSession, data: String, scratch: String,
            seed: Long): Workload = name match {
    case "dashboard" => new QueryRounds(s, data, dashboardQueries, seed)
    case "etl_kafka" => new EtlKafka(s, data, scratch)
    case other => sys.error(s"unknown workload $other")
  }

  /** Build a query's DataFrame (timed as the operator layer, its jobs
    * tagged as build jobs) and collect it (the terminal action).
    */
  def query(s: SparkSession, data: String, name: String,
            fn: (SparkSession, String) => DataFrame): Seq[(String, () => DataFrame)] = {
    val sc = s.sparkContext
    sc.setLocalProperty(Trace.PhaseKey, Trace.BuildPhase)
    val t0 = System.nanoTime()
    val df = try fn(s, data) finally sc.setLocalProperty(Trace.PhaseKey, null)
    Runner.buildS = (System.nanoTime() - t0) / 1e9
    val rows = df.collect()
    Seq(name -> (() => s.createDataFrame(java.util.Arrays.asList(rows: _*), df.schema)))
  }
}

/** Rounds of read-only queries in a seed-chosen order per round. */
final class QueryRounds(s: SparkSession, data: String, names: Seq[String], seed: Long)
    extends Workload {
  // a dashboard round is short and its CPU per round kept falling for four
  // rounds while the JIT compiled; three rounds cover most of that
  val warmupRounds = 3
  private val fns = SparkEntry.queries
  private val rng = new Random(seed)

  def nextRound(): Seq[Op] = rng.shuffle(names).map { n =>
    Op(n, "query", () => Workloads.query(s, data, n, fns(n)))
  }

  def oracles: Map[String, String] = names.map(n => n -> SparkEntry.oracleSql(n)).toMap
}

/** The reference DAG and its Kafka-shaped topic: a fresh load into an empty
  * warehouse, an idempotent re-run, and the hourly topic stream draining its
  * backlog. Stream checkpoints and sinks live under the benchmark's scratch
  * directory.
  */
final class EtlKafka(s: SparkSession, data: String, scratch: String) extends Workload {
  val warmupRounds = 1
  private val wh = s"$scratch/wh"
  private val streams = s"$scratch/streams"
  private val facts = Seq("flat_fact", "star_fact")
  private val dims = StarPipeline.dimSpecs.map(_._1)
  private val topics = Pipeline.topicBuilders.map(_._1)

  /** The parquet files of a warehouse table: name -> (bytes, rows). Rows
    * come from the file footers, so checking a load starts no Spark job.
    */
  private def files(t: String): Map[String, (Long, Long)] = {
    val conf = s.sparkContext.hadoopConfiguration
    new java.io.File(s"$wh/$t").listFiles().toSeq
      .filter(_.getName.endsWith(".parquet"))
      .map { f =>
        val r = ParquetFileReader.open(HadoopInputFile.fromPath(new Path(f.getPath), conf))
        try f.getName -> (f.length, r.getRecordCount) finally r.close()
      }.toMap
  }

  private var loaded: Map[String, Map[String, (Long, Long)]] = Map.empty

  def nextRound(): Seq[Op] = Seq(
    Op("fresh_load", "fresh_load",
      before = () => { Pipeline.reset(wh); Pipeline.reset(streams) },
      run = () => {
        Pipeline.runOnce(s, data, wh)
        Seq("fresh_load.counts" -> (() => {
          loaded = (facts ++ dims ++ topics).map(t => t -> files(t)).toMap
          s.createDataFrame(loaded.toSeq.map { case (t, fs) => (t, fs.values.map(_._2).sum) })
            .toDF("table_name", "cnt")
        }))
      }),
    // compared with the files of the fresh load: the re-run may add only
    // empty fact files and must leave every dimension file (and with it
    // every surrogate id) as it was
    Op("rerun", "rerun", run = () => {
      Pipeline.runOnce(s, data, wh)
      Seq("rerun.changed" -> (() => {
        val rows = (facts ++ dims).map { t =>
          val (was, now) = (loaded(t), files(t))
          val appended = now.collect { case (f, (_, n)) if !was.contains(f) => n }.sum
          val rewritten = was.count { case (f, v) => !now.get(f).contains(v) }
          (t, appended, rewritten)
        }
        s.createDataFrame(rows).toDF("table_name", "appended", "rewritten")
      }))
    }),
    Op("stream_hourly", "publish", run = () => {
      StreamOps.eventsStream(s, data)
        .groupBy(hour(col("ts")).as("h"))
        .agg(count(lit(1)).as("cnt"))
        .writeStream.format("memory").queryName("perfbench_hourly")
        .outputMode("complete")
        .option("checkpointLocation", s"$streams/ckpt_hourly")
        .trigger(Trigger.AvailableNow())
        .start()
        .awaitTermination()
      org.apache.spark.sql.graft.Bridge.unloadAllStateStores()
      Seq("stream_hourly" -> (() => s.table("perfbench_hourly")))
    }))

  def oracles: Map[String, String] = Map(
    "fresh_load.counts" -> "q_pipeline_idempotence",
    "stream_hourly" -> "q_stream_hourly"
  ).map { case (out, q) => out -> SparkEntry.oracleSql(q) }
}
