package graft.perfbench

import java.io.File
import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.types.StructType

import graft.{Bench, SparkEntry, Verify}

/** What one run measured. A workload fills it in; [[Main]] writes it out
  * as the raw run record that `run.py` turns into metrics.
  */
final class Run(val spark: SparkSession, val tracer: Tracer, val quiesce: Quiesce,
                val seed: Long, val seconds: Double, val staged: String,
                val fixtures: String, val work: String) {
  var attempted = 0L
  val failures = ArrayBuffer[String]()
  var batchS = 0.0
  /** Latencies of the step phase: one per query, or one per trigger. */
  val steps = ArrayBuffer[Double]()
  var stepsS = 0.0
  var landedBytes = 0L
  /** Per-call layer timings (seconds) and layer counts, by metric name. */
  val samples = ArrayBuffer[(String, Double)]()
  val counts = ArrayBuffer[(String, Double)]()
  val triggers = ArrayBuffer[Map[String, Long]]()
  /** Oracle groups: output dir, and the fixture tables replaced in it. */
  val checks = ArrayBuffer[(String, Map[String, String])]()
  /** Work done after the measured region ends: dumping outputs for the oracle. */
  val afterwards = ArrayBuffer[() => Unit]()

  def timed[A](body: => A): (A, Double) = {
    val t0 = System.nanoTime()
    val r = body
    (r, (System.nanoTime() - t0) / 1e9)
  }

  /** One attempted operation; a throw is recorded as a failure. */
  def op[A](name: String)(body: => A): Option[A] = {
    attempted += 1
    try Some(body)
    catch { case e: Exception => failures += s"$name: $e"; None }
  }

  /** Writes collected rows as one parquet file, the layout the oracle reads. */
  def dump(dir: String, schema: StructType, rows: Array[Row]): Unit =
    dump(dir, spark.createDataFrame(rows.toSeq.asJava, schema))

  def dump(dir: String, df: DataFrame): Unit =
    df.coalesce(1).write.mode("overwrite").parquet(dir)

  /** oracle_sql.json for `entries` in `dir`, and the group registered. */
  def oracleGroup(dir: String, entries: Iterable[String],
                  overrides: Map[String, String] = Map.empty): Unit = {
    new File(dir).mkdirs()
    Files.writeString(Paths.get(dir, "oracle_sql.json"),
      Verify.oracleJson(spark, fixtures, entries.toSet))
    checks += ((dir, overrides))
  }
}

object Main {
  private def usage(): Nothing = {
    System.err.println("usage: graft.perfbench.Main --workload warehouse|corpus --seed N " +
      "--seconds S --trace 0|1 --fixtures DIR --staged DIR --work DIR --out FILE")
    sys.exit(2)
  }

  def sumUnder(f: File)(leaf: File => Long): Long =
    if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.map(sumUnder(_)(leaf)).sum
    else leaf(f)

  def bytesUnder(f: File): Long = sumUnder(f)(_.length)

  def main(args: Array[String]): Unit = {
    if (args.length % 2 != 0) usage()
    val opt = args.grouped(2).map(a => a(0).stripPrefix("--") -> a(1)).toMap
    def need(k: String) = opt.getOrElse(k, usage())
    val workload = need("workload")
    val runWorkload: Run => Unit = workload match {
      case "warehouse" => Warehouse.run
      case "corpus" => CorpusPipeline.run
      case _ => usage()
    }
    val trace = need("trace") == "1"
    val cores = Runtime.getRuntime.availableProcessors
    val work = need("work")

    // Spark defaults apart from the heap (set on the JVM command line)
    // and where scratch files go: AQE stays on and shuffle partitions are
    // not pinned, so partition sizing done in the library shows here.
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/spark-warehouse")
      .getOrCreate()
    val readyMs = System.currentTimeMillis()
    spark.sparkContext.setLogLevel("ERROR")
    val sc = spark.sparkContext
    val fingerprintStart = Bench.calibrationJson(spark, cores)

    val tracer = new Tracer(trace, sc)
    val engine = if (trace) {
      val l = new EngineListener(tracer)
      sc.addSparkListener(l)
      spark.listenerManager.register(l)
      Some(l)
    } else None
    val quiesce = new Quiesce(sc)
    val run = new Run(spark, tracer, quiesce, need("seed").toLong, need("seconds").toDouble,
      need("staged"), need("fixtures"), work)
    // trigger latency is an end-to-end metric, so this listener runs untraced too
    spark.streams.addListener(new StreamingQueryListener {
      override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
      override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
      override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
        if (e.progress.numInputRows > 0) run.triggers.synchronized {
          run.triggers += e.progress.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap
          ()
        }
    })
    quiesce()
    val before = engine.map(_.snapshot())
    tracer.span(workload, "workload") { runWorkload(run) }
    val engineDelta = engine.zip(before).map { case (l, b) =>
      org.apache.spark.perfbench.ListenerDrain(sc)
      l.snapshot().map { case (k, v) => k -> (v - b(k)) }
    }
    val peakHeap = quiesce.peakHeapBytes
    val measuredMs = System.currentTimeMillis()
    run.afterwards.foreach(_())
    val dumpedMs = System.currentTimeMillis()
    val fingerprintEnd = Bench.calibrationJson(spark, cores)

    val json = new ObjectMapper().registerModule(DefaultScalaModule)
    json.writeValue(new File(need("out")), Map(
      "workload" -> workload, "seed" -> run.seed, "trace" -> trace,
      "cores" -> cores, "spark_version" -> spark.version,
      "heap_max_bytes" -> Runtime.getRuntime.maxMemory,
      "session_ready_epoch_ms" -> readyMs, "measured_end_epoch_ms" -> measuredMs,
      "dumped_epoch_ms" -> dumpedMs,
      "fingerprint_start" -> json.readTree(fingerprintStart),
      "fingerprint_end" -> json.readTree(fingerprintEnd),
      "attempted" -> run.attempted, "failures" -> run.failures.toSeq,
      "batch_s" -> run.batchS, "steps" -> run.steps.toSeq, "steps_s" -> run.stepsS,
      "landed_bytes" -> run.landedBytes, "peak_heap_bytes" -> peakHeap,
      "samples" -> run.samples.toSeq, "counts" -> run.counts.toSeq,
      "triggers" -> run.triggers.toSeq,
      "checks" -> run.checks.toSeq.map { case (d, o) => Map("dir" -> d, "overrides" -> o) },
      "engine" -> engineDelta, "spans" -> tracer.spans))
    spark.stop()
  }
}

/** The warehouse pipeline: the nightly star build (`Etl.buildAll`, the
  * reference's run_full_etl) in a fresh session, then the analyst's read
  * side over the same tables, one client in a closed loop.
  */
object Warehouse {
  /** Six analytic entries over the star schema: an aggregation (q1), a
    * six-way join (q5), a top-k, a scorecard, percentiles, and
    * `asof_join_custom`, which runs through the graft.plans custom
    * strategy. */
  val Queries: Seq[String] = Seq(
    "q1_pricing_summary", "q5_region_volume", "top_customers",
    "supplier_scorecard", "order_value_percentiles", "asof_join_custom")
  val Passes = 3

  def run(r: Run): Unit = {
    import r._
    val wh = s"$work/warehouse"
    val (report, buildS) = timed {
      op("Etl.buildAll") {
        tracer.span("Etl.buildAll", "call") {
          graft.Etl.buildAll(spark, staged, wh).collect()
        }
      }
    }
    batchS = buildS
    quiesce()
    // one op per report row; the stage seconds sum to etl.<stage>_s
    val stageS = mutable.LinkedHashMap[String, Double]()
    report.toSeq.flatten.foreach { row =>
      val (stage, table, status) = (row.getString(0), row.getString(1), row.getString(4))
      attempted += 1
      if (status.startsWith("error")) failures += s"Etl.buildAll $stage $table: $status"
      stageS(stage) = stageS.getOrElse(stage, 0.0) + row.getDouble(3)
    }
    stageS.foreach { case (stage, s) => samples += ((s"etl.${stage}_s", s)) }

    // the analyst's queries, in a seeded order: a fixed number of passes,
    // then more while --seconds have not passed. Fixed work keeps the
    // sample count, and the share of samples from the first, colder pass,
    // equal across runs whatever the host's speed.
    val rng = new scala.util.Random(seed)
    val last = mutable.Map[String, (StructType, Array[Row])]()
    val p0 = System.nanoTime()
    var passes = 0
    while (passes < Passes || (System.nanoTime() - p0) / 1e9 < seconds) {
      rng.shuffle(Queries).foreach { q =>
        val (res, s) = timed {
          op(q) {
            tracer.span(s"query.$q", "call") {
              val df = SparkEntry.queries(q)(spark, staged)
              (df.schema, df.collect())
            }
          }
        }
        res.foreach { out =>
          steps += s
          samples += ((s"query.${q}_s", s))
          last(q) = out
        }
      }
      passes += 1
    }
    stepsS = (System.nanoTime() - p0) / 1e9 / passes
    quiesce()

    // outside the timed region: what landed, and the oracle groups
    afterwards += { () =>
      landedBytes = Main.bytesUnder(new File(wh))
      counts += (("etl.load_files", Main.sumUnder(new File(wh))(f =>
        if (f.getName.startsWith("part-") && f.getName.endsWith(".parquet")) 1L else 0L).toDouble))
      val landed = Option(new File(wh).listFiles()).toSeq.flatten
        .filter(_.isDirectory).map(_.getName)
      oracleGroup(wh, landed.filter(SparkEntry.oracleSql.contains))
      val qdir = s"$work/check/queries"
      last.foreach { case (q, (schema, rows)) => dump(s"$qdir/$q", schema, rows) }
      oracleGroup(qdir, last.keys)
    }
  }
}
