package graftbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}
import scala.collection.mutable
import scala.jdk.CollectionConverters._

import graft.{Caches, Main, SparkEntry, Tables}
import graft.operators.{ChangePoints, Correlate}
import graft.report.AdvisorReport
import graft.sources.{MetricsCsv, MetricsTar}
import org.apache.spark.GraftBenchBus
import org.apache.spark.scheduler._
import org.apache.spark.sql.{DataFrame, Observation, Row, SparkSession}
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.QueryExecutionListener
import org.apache.spark.storage.RDDBlockId

/** JVM side of the benchmark: one closed-loop client driving graft's
  * public entry points in a single `local[N]` session.
  *
  * Arguments are `key=value` pairs (see perfbench/run.py, which builds
  * them). The harness
  *   1. sets up once, timed from JVM start: session, `Tables.prepare`,
  *      one untimed warm-up operation;
  *   2. runs passes over the workload's operations until `seconds` have
  *      elapsed and at least `min_ops` operations ran, timing each call
  *      to its full result (a report string, or a collected, ordered
  *      query result) and releasing every cache outside the clock;
  *   3. in a traced run, alternates untraced (even) and traced (odd)
  *      passes; a traced pass attaches [[TaskStats]] and [[PlanStats]] and
  *      records spans;
  *      advisor workloads then run the report pipeline stage by stage
  *      under spans (the per-layer split);
  *   4. writes what the checks need (report.md, per-query results as
  *      parquet, oracle SQL, ingested signal count).
  * Everything goes to `<out>/records.jsonl` and `<out>/spans.jsonl`.
  */
object Harness {

  final case class Op(name: String, module: String, run: SparkSession => Any)

  def main(args: Array[String]): Unit = {
    val conf = args.map { a => val i = a.indexOf('='); a.take(i) -> a.drop(i + 1) }.toMap
    val jvmStartNs = System.nanoTime() -
      (System.currentTimeMillis() -
        java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime) * 1000000L
    val out = conf("out")
    val workloadName = conf("workload")
    val seconds = conf("seconds").toDouble
    val minOps = conf("min_ops").toInt
    val cpus = conf("cpus").toInt
    val rec = new Records(out)
    val workload: Workload = workloadName match {
      case "advisor_fleet" => new Advisor(conf("bundle"), rec)
      case "catalog_mix" =>
        new Catalog(conf("tables"), conf("mix").split(",").toSeq, conf("warm"),
          conf.get("inject").contains("1"), rec)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }

    // set-up, timed from JVM start. Once per run: the advisor's warm-up
    // is a whole report, and a second one would add a third to the run
    val spark = session(cpus, out)
    Tables.prepare(spark)
    workload.warm(spark)
    release(spark)
    rec.write(s"""{"kind":"setup","s":${secs(jvmStartNs)}}""")

    val storage = new StorageTracker
    spark.sparkContext.addSparkListener(storage)
    val tracer =
      if (conf("trace") == "1") Some(new Tracer(spark, workloadName, cpus)) else None
    val loop0 = System.nanoTime()
    var pass = 0
    var nOps = 0
    while (secs(loop0) < seconds || nOps < minOps) {
      // untraced and traced passes alternate so the tracing overhead is
      // measured inside one process; pass 0 is untraced and left out of
      // the overhead, as it still runs colder than the rest
      val traced = tracer.isDefined && pass % 2 == 1
      if (traced) tracer.get.attach()
      workload.ops.foreach { op =>
        if (traced) tracer.get.beginOp()
        val t0 = System.nanoTime()
        val result =
          try Right(if (traced) tracer.get.span(op.name, op.name)(op.run(spark)) else op.run(spark))
          catch { case e: Throwable => Left(e) }
        val s = secs(t0)
        val stats = if (traced) tracer.get.endOp(s) else "null"
        val tracked = Caches.trackedCount
        release(spark)
        val (ok, detail) = result match {
          case Right(v) => (true, Json.str(workload.keep(op, v)))
          case Left(e) => (false, Json.str(s"${e.getClass.getName}: ${e.getMessage}".take(300)))
        }
        val field = if (ok) "digest" else "error"
        rec.write(s"""{"kind":"op","pass":$pass,"op":${Json.str(op.name)},""" +
          s""""module":${Json.str(op.module)},"s":$s,"ok":$ok,"$field":$detail,""" +
          s""""traced":$traced,"tracked":$tracked,"stats":$stats}""")
        nOps += 1
      }
      if (traced) tracer.get.detach()
      pass += 1
    }
    rec.write(s"""{"kind":"loop","s":${secs(loop0)},"passes":$pass,"ops":$nOps}""")
    tracer.foreach(t => workload.layers(spark, t))
    workload.finish(spark, out)
    GraftBenchBus.drain(spark.sparkContext)
    rec.write(s"""{"kind":"storage","peak_bytes":${storage.peak}}""")
    tracer.foreach(_.writeSpans(Paths.get(out, "spans.jsonl").toString))
    rec.close()
    spark.stop()
  }

  def secs(t0: Long): Double = (System.nanoTime() - t0) / 1e9

  def session(cpus: Int, out: String): SparkSession = {
    val scratch = Paths.get(out, "spark").toAbsolutePath.toString
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", scratch)
      .config("spark.sql.warehouse.dir", s"$scratch/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  /** What Bench does after each query: drop the operators' tracked
    * persists and any session-level cache.
    */
  def release(spark: SparkSession): Unit = {
    Caches.release()
    spark.catalog.clearCache()
  }

  /** Runs `df` to completion into the `noop` sink and returns its row
    * count, taken by an observation so no column is pruned away.
    */
  def materialise(df: DataFrame): Long = {
    val obs = Observation()
    df.observe(obs, count(lit(1)).as("rows")).write.format("noop").mode("overwrite").save()
    obs.get("rows").asInstanceOf[Long]
  }
}

/** Append-only JSON-lines sink for everything the harness measures. */
final class Records(out: String) {
  Files.createDirectories(Paths.get(out))
  private val w = Files.newBufferedWriter(Paths.get(out, "records.jsonl"), UTF_8)
  def write(line: String): Unit = synchronized { w.write(line); w.write("\n"); w.flush() }
  def close(): Unit = w.close()
}

object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  def sha256(s: String): String =
    java.security.MessageDigest.getInstance("SHA-256").digest(s.getBytes(UTF_8))
      .map(b => f"$b%02x").mkString
}

trait Workload {
  def ops: Seq[Harness.Op]
  def warm(spark: SparkSession): Unit
  /** Digest of one operation's result; keeps what the checks need. */
  def keep(op: Harness.Op, result: Any): String
  def layers(spark: SparkSession, tracer: Tracer): Unit = ()
  def finish(spark: SparkSession, out: String): Unit
}

/** `graft.Main.run` on a metrics bundle with the default objectives. */
final class Advisor(bundle: String, rec: Records) extends Workload {
  private val objectives = Main.RefObjectives
  private var warmReport = ""

  val ops: Seq[Harness.Op] =
    Seq(Harness.Op("report", "advisor", spark => Main.run(spark, bundle, objectives)))

  /** One report; it is the one the checks read, and its digest joins
    * the run's byte-identity check.
    */
  def warm(spark: SparkSession): Unit = {
    warmReport = Main.run(spark, bundle, objectives)
    rec.write(s"""{"kind":"warm","digest":"${Json.sha256(warmReport)}"}""")
  }

  def keep(op: Harness.Op, result: Any): String = Json.sha256(result.asInstanceOf[String])

  /** `Main.run` split at its stage boundaries, each stage run to
    * completion under a span. Stage code that `Main` and `AdvisorReport`
    * keep private (`inferStepSec`, `gateBuckets`) is mirrored here; the
    * digest of the report it renders is recorded so the check can hold
    * it to the warm-up report.
    */
  override def layers(spark: SparkSession, tracer: Tracer): Unit = {
    val op = "layers"
    def layer(name: String, value: Double): Unit =
      rec.write(s"""{"kind":"layer","name":"$name","value":$value}""")
    def timed[T](name: String)(body: => T): T = {
      val t0 = System.nanoTime()
      val v = tracer.span(op, name)(body)
      layer(s"${name}_s", Harness.secs(t0))
      v
    }
    tracer.attach()
    tracer.span(op, "report") {
      val dir = timed("sources.extract")(MetricsTar.extractCsvs(bundle))
      val jobs0 = tracer.jobs()
      // the reader is lazy past its file listing and header reads, so the
      // span also runs one full parse of every CSV
      val signals = timed("sources.read") {
        val df = MetricsCsv.read(spark, dir.toString)
        Harness.materialise(df)
        df
      }
      layer("sources.read_jobs", (tracer.jobs() - jobs0).toDouble)
      val ingested = signals.select("name", "node").distinct().count()
      layer("sources.signals_ingested", ingested.toDouble)
      // step inference and the grid each scan the CSVs again, as in Main.run
      val (cfg, grid, gridRows) = timed("timeseries.grid") {
        val step = inferStepSec(signals)
        val cfg = AdvisorReport.Config(objNames = objectives, stepSec = step,
          bucketSec = 40L * step)
        val grid = AdvisorReport.gatedGrid(signals, cfg)
        (cfg, grid, Harness.materialise(grid))
      }
      layer("timeseries.grid_rows", gridRows.toDouble)
      layer("timeseries.signals_gated",
        (ingested - grid.select("name", "node").distinct().count()).toDouble)
      val anomalyRows = timed("changepoints.anomaly")(Harness.materialise(
        ChangePoints.anomalyUnion(
          grid.filter(col("name").isin(objectives: _*)).select("name", "node", "tsb", "gval"),
          bucket = cfg.bucketSec, permutations = cfg.permutations,
          maxPoints = cfg.maxPoints)))
      layer("changepoints.anomaly_rows", anomalyRows.toDouble)
      val cellsObs = Observation()
      val ranked = timed("correlate.ncc")(Harness.materialise(Correlate.topCorr(
        Correlate.nccLag(gateBuckets(grid, cfg), objectives)
          .observe(cellsObs, count(lit(1)).as("rows")), cfg.topK)))
      layer("correlate.ncc_cells", cellsObs.get("rows").asInstanceOf[Long].toDouble)
      layer("correlate.ranked_rows", ranked.toDouble)
      val advice = AdvisorReport.adviseOnGrid(grid, cfg)
      timed("report.advise")(Harness.materialise(advice))
      // as renderMarkdown calls them
      timed("report.granger")(AdvisorReport.causalSignals(grid).limit(50).collect())
      timed("report.drift")(AdvisorReport.driftSignals(grid).limit(50).collect())
      val report = timed("report.render")(AdvisorReport.renderMarkdown(advice, Some(grid), cfg = cfg))
      AdvisorReport.release(grid)
      // the split must time the pipeline Main.run runs: its report has to
      // match the run's warm-up report byte for byte
      rec.write(s"""{"kind":"layers_report","digest":"${Json.sha256(report)}"}""")
    }
    Harness.release(spark)
    tracer.detach()
  }

  // mirrors graft.Main.inferStepSec
  private def inferStepSec(signals: DataFrame): Long = {
    val w = org.apache.spark.sql.expressions.Window.partitionBy("name", "node").orderBy("tsec")
    val perSeries = signals.select(col("name"), col("node"), col("tsec"))
      .withColumn("d", col("tsec") - lag("tsec", 1).over(w))
      .filter(col("d") > 0)
      .groupBy("name", "node").agg(min("d").as("step"))
    val mode = perSeries.groupBy("step").count()
      .orderBy(col("count").desc, col("step").asc)
      .limit(1).collect()
    if (mode.isEmpty) 3600L else mode(0).getLong(0)
  }

  // mirrors graft.report.AdvisorReport.gateBuckets
  private def gateBuckets(grid: DataFrame, cfg: AdvisorReport.Config): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window.partitionBy("name", "node", "b")
    grid.withColumn("_rng", graft.Num.r4(max("gval").over(w) - min("gval").over(w)))
      .filter(col("_rng") > cfg.minRange)
      .drop("_rng")
  }

  def finish(spark: SparkSession, out: String): Unit = {
    Files.writeString(Paths.get(out, "report.md"), warmReport)
    val ingested = MetricsTar.read(spark, bundle).select("name", "node").distinct().count()
    rec.write(s"""{"kind":"signals","ingested":$ingested}""")
  }
}

/** A fixed list of `SparkEntry.queries`, each timed to its full, ordered,
  * collected result. With `inject`, two extra operations exercise the
  * failure accounting: one throws, one returns a result its oracle
  * rejects.
  */
final class Catalog(dir: String, mix: Seq[String], warmQuery: String,
                    inject: Boolean, rec: Records) extends Workload {
  private val results = mutable.LinkedHashMap[String, (StructType, Array[Row])]()

  private def query(name: String): SparkSession => Any = {
    val fn = SparkEntry.queries(name)
    spark => { val df = fn(spark, dir); (df.schema, df.collect()) }
  }

  val ops: Seq[Harness.Op] = mix.map(n => Harness.Op(n, Catalog.module(n), query(n))) ++
    (if (!inject) Nil else Seq(
      Harness.Op("inject_throw", "selftest",
        _ => throw new IllegalStateException("injected failure")),
      Harness.Op("inject_wrong", "selftest",
        spark => { val df = spark.range(3).toDF("id"); (df.schema, df.collect()) })))

  /** One query outside the mix, so every measured query runs for the
    * first time in the pass, whatever the order.
    */
  def warm(spark: SparkSession): Unit = SparkEntry.queries(warmQuery)(spark, dir).collect()

  def keep(op: Harness.Op, result: Any): String = {
    val (schema, rows) = result.asInstanceOf[(StructType, Array[Row])]
    if (!results.contains(op.name)) results(op.name) = (schema, rows)
    Json.sha256(rows.iterator.map(render).mkString("\n"))
  }

  /** Row text with byte arrays spelled out (their toString is an
    * identity hash) and nested rows and sequences rendered recursively.
    */
  private def render(v: Any): String = v match {
    case b: Array[Byte] => b.map(x => f"$x%02x").mkString("0x", "", "")
    case r: Row => r.toSeq.map(render).mkString("[", ",", "]")
    case s: scala.collection.Seq[_] => s.map(render).mkString("<", ",", ">")
    case m: scala.collection.Map[_, _] =>
      m.toSeq.map { case (k, x) => render(k) + "->" + render(x) }.mkString("{", ",", "}")
    case null => "null"
    case x => x.toString
  }

  def finish(spark: SparkSession, out: String): Unit = {
    results.foreach { case (name, (schema, rows)) =>
      spark.createDataFrame(rows.toList.asJava, schema).coalesce(1)
        .write.mode("overwrite").parquet(Paths.get(out, "results", name).toString)
    }
    val oracles = SparkEntry.oracleSql.filter(kv => mix.contains(kv._1)) ++
      (if (inject) Map("inject_wrong" -> "SELECT CAST(range AS BIGINT) AS id FROM range(4)")
       else Map.empty[String, String])
    Files.writeString(Paths.get(out, "oracle_sql.json"),
      oracles.map { case (k, v) => s"${Json.str(k)}: ${Json.str(v)}" }.mkString("{", ",", "}"))
  }
}

object Catalog {
  /** The operator module a query of the mix exercises, from its name
    * family.
    */
  def module(name: String): String = {
    name.takeWhile(_ != '_') match {
      case "ts" => "timeseries"
      case "ad" => "anomaly"
      case "corr" | "advisor" => "correlate"
      case "dedup" => "dedup"
      case "ann" => "similarity"
      case "text" => "text"
      case "sample" => "curation"
      case _ => "relational"
    }
  }
}

/** Peak storage held by cached RDD blocks, from block-update and
  * unpersist events.
  */
final class StorageTracker extends SparkListener {
  private val blocks = mutable.HashMap[RDDBlockId, Long]()
  private var current = 0L
  @volatile var peak = 0L

  override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit = synchronized {
    e.blockUpdatedInfo.blockId match {
      case id: RDDBlockId =>
        val info = e.blockUpdatedInfo
        val size = if (info.storageLevel.isValid) info.memSize + info.diskSize else 0L
        current += size - blocks.getOrElse(id, 0L)
        if (size > 0) blocks(id) = size else blocks.remove(id)
        peak = math.max(peak, current)
      case _ =>
    }
  }

  // unpersist drops an RDD's blocks without a block update per block
  override def onUnpersistRDD(e: SparkListenerUnpersistRDD): Unit = synchronized {
    blocks.keys.filter(_.rddId == e.rddId).toList.foreach(id => current -= blocks.remove(id).get)
  }
}

/** Job, stage and task counters for the operation in flight. */
final class TaskStats extends SparkListener {
  var jobs, stages, tasks, runMs, cpuNs, shuffleWrite, shuffleRead, spill = 0L
  private val perStage = mutable.HashMap[(Int, Int), (Long, Long)]()

  def reset(): Unit = synchronized {
    jobs = 0; stages = 0; tasks = 0; runMs = 0; cpuNs = 0
    shuffleWrite = 0; shuffleRead = 0; spill = 0
    perStage.clear()
  }

  /** Max task time over total task time, in the stage with the most
    * task time.
    */
  def maxTaskShare: Double = synchronized {
    if (perStage.isEmpty) 0.0
    else {
      val (total, maxTask) = perStage.values.maxBy(_._1)
      if (total == 0) 0.0 else maxTask.toDouble / total
    }
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized { jobs += 1 }
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized { stages += 1 }
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    tasks += 1
    val m = e.taskMetrics
    if (m != null) {
      runMs += m.executorRunTime
      cpuNs += m.executorCpuTime
      shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      shuffleRead += m.shuffleReadMetrics.totalBytesRead
      spill += m.diskBytesSpilled
      val key = (e.stageId, e.stageAttemptId)
      val (t, mx) = perStage.getOrElse(key, (0L, 0L))
      perStage(key) = (t + m.executorRunTime, math.max(mx, m.executorRunTime))
    }
  }
}

/** Catalyst phase times of every query execution, from its tracker. */
final class PlanStats extends QueryExecutionListener {
  var executions = 0L
  var analysisMs, optimizationMs, planningMs = 0L

  def reset(): Unit = synchronized {
    executions = 0; analysisMs = 0; optimizationMs = 0; planningMs = 0
  }

  private def add(qe: QueryExecution): Unit = synchronized {
    executions += 1
    val phases = qe.tracker.phases
    analysisMs += phases.get("analysis").map(_.durationMs).getOrElse(0L)
    optimizationMs += phases.get("optimization").map(_.durationMs).getOrElse(0L)
    planningMs += phases.get("planning").map(_.durationMs).getOrElse(0L)
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = add(qe)
  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = add(qe)
}

/** Spans kept in memory and written when the run ends, plus the two
  * listeners, attached only for traced passes.
  */
final class Tracer(spark: SparkSession, workload: String, cores: Int) {
  private final case class Span(op: String, name: String, start: Double, end: Double,
                                parent: Option[String])
  private val spans = mutable.ArrayBuffer[Span]()
  private var open = List.empty[String]
  private val t0 = System.nanoTime()
  private val tasks = new TaskStats
  private val plans = new PlanStats

  def attach(): Unit = {
    spark.sparkContext.addSparkListener(tasks)
    spark.listenerManager.register(plans)
  }

  def detach(): Unit = {
    GraftBenchBus.drain(spark.sparkContext)
    spark.sparkContext.removeSparkListener(tasks)
    spark.listenerManager.unregister(plans)
  }

  def beginOp(): Unit = {
    GraftBenchBus.drain(spark.sparkContext)
    tasks.reset()
    plans.reset()
  }

  /** Jobs started so far in this operation. */
  def jobs(): Long = { GraftBenchBus.drain(spark.sparkContext); tasks.jobs }

  /** Listener totals for the operation that just ended, as JSON. */
  def endOp(wallS: Double): String = {
    GraftBenchBus.drain(spark.sparkContext)
    val idle = if (wallS > 0) 1.0 - tasks.runMs / 1e3 / (wallS * cores) else 0.0
    s"""{"jobs":${tasks.jobs},"stages":${tasks.stages},"tasks":${tasks.tasks},""" +
      s""""task_run_s":${tasks.runMs / 1e3},"task_cpu_s":${tasks.cpuNs / 1e9},""" +
      s""""core_idle_share":$idle,"max_task_share":${tasks.maxTaskShare},""" +
      s""""shuffle_write_mb":${tasks.shuffleWrite / 1048576.0},""" +
      s""""shuffle_read_mb":${tasks.shuffleRead / 1048576.0},""" +
      s""""spill_mb":${tasks.spill / 1048576.0},""" +
      s""""executions":${plans.executions},"analysis_s":${plans.analysisMs / 1e3},""" +
      s""""optimization_s":${plans.optimizationMs / 1e3},"planning_s":${plans.planningMs / 1e3}}"""
  }

  def span[T](op: String, name: String)(body: => T): T = {
    val parent = open.headOption
    open = name :: open
    val start = (System.nanoTime() - t0) / 1e9
    try body
    finally {
      open = open.tail
      spans += Span(op, name, start, (System.nanoTime() - t0) / 1e9, parent)
    }
  }

  def writeSpans(path: String): Unit = Files.write(Paths.get(path), spans.map { s =>
    s"""{"workload":${Json.str(workload)},"op":${Json.str(s.op)},"name":${Json.str(s.name)},""" +
      s""""start":${s.start},"end":${s.end},"parent":${s.parent.map(Json.str).getOrElse("null")}}"""
  }.asJava, UTF_8)
}
