package graftbench

import java.io.File
import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}
import java.util.concurrent.{Callable, ExecutorService, Executors, TimeUnit}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
import org.apache.spark.sql.functions._

import graft.{GraftSession, Pins, SparkEntry, Sql}
import graft.sources.SnapshotTable

/** One closed-loop client driving graft through its public API.
  *
  *   Harness <workload> <dataDir> <planFile> <outDir> <seconds> <trace> <warmup> <minPasses>
  *
  * The plan file, generated from the seed, holds one operation per line:
  * `pass<TAB>kind<TAB>name<TAB>arg`. Pass 0 is the one-off set-up
  * (`register` or `create`) and passes 1..`warmup` warm the JIT and
  * codegen caches on the workload's own operations; set-up time runs
  * from JVM start to the end of the last warm-up pass. The timed passes
  * follow back to back until `seconds` have elapsed and at least
  * `minPasses` have run.
  * Outputs land under `outDir` for the correctness check; the
  * measurements go to `outDir/result.json`.
  * With `trace` = 1 a SparkListener, job groups per phase and timers
  * around each module call add the per-layer split.
  */
object Harness {

  final case class Op(pass: Int, kind: String, name: String, arg: String)

  private val OpTimeoutS = 60L

  def main(args: Array[String]): Unit = {
    val Array(workload, dataDir, planFile, outDir, secondsS, traceS, warmupS, minPassesS) = args
    val plan = Files.readAllLines(Paths.get(planFile), UTF_8).asScala.toSeq
      .filter(_.nonEmpty).map { l =>
        val f = l.split("\t", -1); Op(f(0).toInt, f(1), f(2), f(3))
      }
    val h = new Harness(workload, dataDir, new File(outDir).getAbsoluteFile, traceS == "1")
    val (setUp, timedPasses) = plan.partition(_.pass <= warmupS.toInt)
    val passes = timedPasses.groupBy(_.pass).toSeq.sortBy(_._1).map(_._2)

    h.start()
    setUp.foreach(h.run)
    val setupS = System.currentTimeMillis() / 1e3 -
      ManagementFactory.getRuntimeMXBean.getStartTime / 1e3

    val t0 = System.nanoTime()
    val passWall, passCpu = mutable.ArrayBuffer[Double]()
    h.startTimed()
    for (ops <- passes
         if passWall.size < minPassesS.toInt || (System.nanoTime() - t0) / 1e9 < secondsS.toDouble) {
      val (p0, c0) = (System.nanoTime(), processCpuS())
      ops.foreach(h.run)
      passWall += (System.nanoTime() - p0) / 1e9
      passCpu += processCpuS() - c0
    }
    val layers = h.finish(passWall.size, plan.filter(_.kind == "q").map(_.name).distinct)

    val json = Map(
      "setup_s" -> num(setupS),
      "pass_wall_s" -> passWall.map(num).mkString("[", ",", "]"),
      "pass_cpu_s" -> passCpu.map(num).mkString("[", ",", "]"),
      "peak_rss_mb" -> num(peakRssMb()),
      "cores" -> h.cores.toString,
      "heap_mb" -> num(Runtime.getRuntime.maxMemory / 1048576.0),
      "ops" -> h.records.map(_.json).mkString("[", ",", "]"),
      "layers" -> layers.map { case (k, v) => s""""$k":${num(v)}""" }.mkString("{", ",", "}"))
      .map { case (k, v) => s""""$k":$v""" }.mkString("{", ",", "}")
    Files.write(new File(outDir, "result.json").toPath, json.getBytes(UTF_8))
    h.stop()
  }

  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null" else java.lang.Double.toString(d)

  private def processCpuS(): Double =
    ManagementFactory.getOperatingSystemMXBean
      .asInstanceOf[com.sun.management.OperatingSystemMXBean].getProcessCpuTime / 1e9

  private def peakRssMb(): Double =
    Files.readAllLines(Paths.get("/proc/self/status")).asScala
      .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toDouble / 1024).getOrElse(Double.NaN)

  /** Total bytes and parquet file count under `f`. */
  def dirSize(f: File): (Long, Int) =
    if (!f.exists) (0L, 0)
    else if (f.isFile) (f.length, if (f.getName.endsWith(".parquet")) 1 else 0)
    else f.listFiles.map(dirSize).foldLeft((0L, 0)) { case ((a, b), (c, d)) => (a + c, b + d) }
}

/** Job, stage and task counters from one SparkListener; jobs are
  * attributed to the phase named in their group (`<phase>:<op>`). */
class LayerListener extends SparkListener {
  private val jobsByPhase = mutable.Map[String, Double]().withDefaultValue(0.0)
  private var stages, tasks, runMs, cpuNs, gcMs, bytesRead, recordsRead = 0L
  private var shuffleWrite, shuffleRead, fetchWaitMs, spillBytes = 0L

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val g = Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
    jobsByPhase(g.map(_.takeWhile(_ != ':')).getOrElse("none")) += 1
  }
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized { stages += 1 }
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    tasks += 1
    val m = e.taskMetrics
    if (m != null) {
      runMs += m.executorRunTime; cpuNs += m.executorCpuTime; gcMs += m.jvmGCTime
      bytesRead += m.inputMetrics.bytesRead; recordsRead += m.inputMetrics.recordsRead
      shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      shuffleRead += m.shuffleReadMetrics.totalBytesRead
      fetchWaitMs += m.shuffleReadMetrics.fetchWaitTime
      spillBytes += m.diskBytesSpilled
    }
  }
  def snapshot: Map[String, Double] = synchronized {
    val mb = 1048576.0
    Map("exec.jobs" -> jobsByPhase.values.sum, "exec.stages" -> stages.toDouble,
      "exec.tasks" -> tasks.toDouble, "exec.run_s" -> runMs / 1e3,
      "exec.cpu_s" -> cpuNs / 1e9, "exec.gc_s" -> gcMs / 1e3,
      "scan.bytes_read_mb" -> bytesRead / mb, "scan.records_read" -> recordsRead.toDouble,
      "shuffle.write_mb" -> shuffleWrite / mb, "shuffle.read_mb" -> shuffleRead / mb,
      "shuffle.fetch_wait_s" -> fetchWaitMs / 1e3, "spill.mb" -> spillBytes / mb,
      "operators.construct_jobs" -> jobsByPhase("construct"),
      "sql.register_jobs" -> jobsByPhase("register"))
  }
}

class Harness(workload: String, dataDir: String, root: File, trace: Boolean) {
  import Harness._

  final case class Record(op: Op, latencyS: Double, ok: Boolean, result: String) {
    def json: String =
      s"""{"pass":${op.pass},"kind":"${op.kind}","name":"${op.name}",""" +
        s""""latency_s":${num(latencyS)},"ok":$ok,"result":$result}"""
  }

  val records = mutable.ArrayBuffer[Record]()
  private val timers = mutable.Map[String, Double]().withDefaultValue(0.0)
  private val counts = mutable.Map[String, Double]().withDefaultValue(0.0)
  private var spark: SparkSession = _
  private var listener: LayerListener = _
  private var atTimedStart = Map.empty[String, Double]
  private var timersAtStart, countsAtStart = Map.empty[String, Double]
  private var compileNs0, classes0, timedNs0 = 0L
  private var lakeBytes0 = (0L, 0)
  private var client: ExecutorService = Executors.newSingleThreadExecutor()
  private val lake = new File(root, "lake/orders").getPath
  private var inSetUp = true
  private val SetUpKinds = Set("register", "create")
  def cores: Int = GraftSession.envCores

  /** Time `body` into the named per-layer timer. */
  private def timed[T](layer: String)(body: => T): T = {
    val t0 = System.nanoTime()
    try body finally timers(layer) += (System.nanoTime() - t0) / 1e9
  }

  /** Traced: tag the current thread's jobs with `<phase>:<op>`. */
  private def phase[T](ph: String, op: String)(body: => T): T =
    if (!trace) body
    else {
      spark.sparkContext.setJobGroup(s"$ph:$op", s"$workload $op $ph")
      try body finally spark.sparkContext.clearJobGroup()
    }

  /** The session, with warehouse, local and lake directories under `root`. */
  def start(): Unit = {
    Seq("warehouse", "local").foreach(d => new File(root, d).mkdirs())
    System.setProperty("spark.sql.warehouse.dir", new File(root, "warehouse").getPath)
    System.setProperty("spark.local.dir", new File(root, "local").getPath)
    System.setProperty("derby.system.home", root.getPath)
    spark = timed("session.start_s")(GraftSession.local())
    if (trace) {
      listener = new LayerListener
      spark.sparkContext.addSparkListener(listener)
    }
  }

  /** One operation with a timeout; a failure or a hang is recorded, and
    * the client thread replaced, so the loop goes on. */
  def run(op: Op): Unit = {
    val t0 = System.nanoTime()
    val fut = client.submit(new Callable[String] { def call(): String = execute(op) })
    val (ok, result) =
      try (true, fut.get(OpTimeoutS, TimeUnit.SECONDS))
      catch {
        case e: Throwable =>
          System.err.println(s"[graftbench] ${op.kind} ${op.name} failed: $e")
          spark.sparkContext.cancelAllJobs()
          fut.cancel(true)
          client.shutdownNow()
          client = Executors.newSingleThreadExecutor()
          (false, "null")
      }
    val dt = (System.nanoTime() - t0) / 1e9
    if (inSetUp) timers(op.kind match {
      case "register" => "sql.register_s"
      case "create" => "sources.create_s"
      case _ => "session.warmup_s"
    }) += dt
    if (!SetUpKinds.contains(op.kind) || !ok) records += Record(op, dt, ok, result)
    if (Set("q", "sql").contains(op.kind)) afterQuery()
  }

  def startTimed(): Unit = {
    inSetUp = false
    if (trace) { drain(); atTimedStart = listener.snapshot }
    timersAtStart = timers.toMap.withDefaultValue(0.0)
    countsAtStart = counts.toMap.withDefaultValue(0.0)
    counts("pins.peak_mb") = 0.0
    compileNs0 = CodeGenerator.compileTime
    classes0 = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    lakeBytes0 = dirSize(new File(lake))
    timedNs0 = System.nanoTime()
  }

  private def drain(): Unit = org.apache.spark.BenchBus.drain(spark.sparkContext)

  /** The driving loop's per-query duties, as in graft's own Bench:
    * release the query's pins, then drop operator caches. */
  private def afterQuery(): Unit = {
    if (trace) {
      counts("pins.registered") += Pins.pending
      val stored = spark.sparkContext.getRDDStorageInfo.map(r => r.memSize + r.diskSize).sum
      counts("pins.peak_mb") = math.max(counts("pins.peak_mb"), stored / 1048576.0)
    }
    Pins.release()
    spark.catalog.clearCache()
  }

  private def execute(op: Op): String = op.kind match {
    case "register" =>
      phase("register", op.name)(Sql.registerTables(spark, dataDir))
      "null"
    case "create" =>
      new File(lake).getParentFile.mkdirs()
      phase("commit", op.name)(SnapshotTable.create(spark, lake, spark.read.parquet(op.arg)))
      "null"
    case "q" =>
      val df = build(op.name)(SparkEntry.queries(op.name)(spark, dataDir))
      act(op.name)(df.write.parquet(outPath(op)))
      "null"
    case "sql" =>
      val df = build(op.name)(spark.sql(op.arg))
      act(op.name)(df.write.parquet(outPath(op)))
      "null"
    case "append" | "merge" | "delete" | "compact" =>
      phase("commit", op.name)(timed("sources.commit_s") {
        op.kind match {
          case "append" => SnapshotTable.append(spark, lake, spark.read.parquet(op.arg))
          case "merge" => SnapshotTable.merge(spark, lake, spark.read.parquet(op.arg), Seq("o_orderkey"))
          case "delete" => SnapshotTable.deleteWhere(spark, lake, op.arg)
          case "compact" => SnapshotTable.compact(spark, lake, op.arg.toInt)
        }
      }).toString
    case "scan" =>
      val Array(version, since) = op.arg.split(",")
      val df = phase("read", op.name)(timed("sources.read_s")(
        SnapshotTable.read(spark, lake, if (version == "head") None else Some(version.toLong))))
      val agg = df.filter(col("o_orderdate") >= to_timestamp(lit(since)))
        .groupBy("o_orderstatus")
        .agg(count(lit(1)), sum("o_orderkey"), sum(round(col("o_totalprice") * 100).cast("long")))
      act(op.name)(agg.collect()).sortBy(_.getString(0))
        .map(r => s"""["${r.getString(0)}",${r.getLong(1)},${r.getLong(2)},${r.getLong(3)}]""")
        .mkString("[", ",", "]")
  }

  private def outPath(op: Op) = new File(root, s"out/p${op.pass}.${op.name}").getPath

  /** The operator call that returns the DataFrame, then (traced) the
    * forced physical plan. */
  private def build(name: String)(mk: => DataFrame): DataFrame = {
    val df = phase("construct", name)(timed("operators.construct_s")(mk))
    if (trace) phase("plan", name)(timed("plans.plan_s")(df.queryExecution.executedPlan))
    df
  }

  private def act[T](name: String)(body: => T): T =
    phase("action", name)(timed("exec.action_s")(body))

  /** Close the timed section: the per-layer values (additive ones per
    * timed pass, counted from [[startTimed]]), after writing the outputs
    * and oracle texts the checks read. */
  def finish(passes: Int, queries: Seq[String]): Seq[(String, Double)] = {
    val wallS = (System.nanoTime() - timedNs0) / 1e9
    val n = math.max(passes, 1).toDouble
    val (bytes, files) = dirSize(new File(lake))
    val traced = if (!trace) Seq.empty else {
      drain()
      val end = listener.snapshot
      end.toSeq.filterNot(_._1 == "sql.register_jobs").map { case (k, v) =>
        k -> (v - atTimedStart(k)) / n
      } :+ ("exec.busy_frac" -> (end("exec.run_s") - atTimedStart("exec.run_s")) / (wallS * cores))
    }
    val lakeUsed = new File(lake).exists
    if (lakeUsed)
      counts("sources.head_files") = SnapshotTable.snapshot(spark, lake,
        SnapshotTable.currentVersion(spark, lake)).files.size
    val perPass = Seq("operators.construct_s", "plans.plan_s", "exec.action_s",
      "sources.commit_s", "sources.read_s", "pins.registered")
    val layers = Seq("session.start_s", "session.warmup_s",
      "sql.register_s", "sources.create_s").map(k => k -> timers(k)) ++
      perPass.map(k => k -> (timers(k) - timersAtStart(k) + counts(k) - countsAtStart(k)) / n) ++
      Seq("sources.bytes_written_mb" -> (bytes - lakeBytes0._1) / 1048576.0 / n,
        "sources.files_written" -> (files - lakeBytes0._2) / n,
        "sources.head_files" -> counts("sources.head_files"),
        "sql.register_jobs" -> atTimedStart.getOrElse("sql.register_jobs", 0.0),
        "pins.peak_mb" -> counts("pins.peak_mb"),
        "codegen.compile_s" -> (CodeGenerator.compileTime - compileNs0) / 1e9 / n,
        "codegen.classes" -> (CodegenMetrics.METRIC_COMPILATION_TIME.getCount - classes0) / n) ++
      traced
    Pins.release(); spark.catalog.clearCache()
    val leaked = spark.sparkContext.getPersistentRDDs.size.toDouble

    if (lakeUsed)
      SnapshotTable.read(spark, lake).write.parquet(new File(root, "out/lake_head").getPath)
    val oracles = SparkEntry.oracleSql.filter { case (k, _) => queries.contains(k) }
    Files.write(new File(root, "oracle_sql.json").toPath,
      new com.fasterxml.jackson.databind.ObjectMapper().writeValueAsBytes(oracles.asJava))
    layers :+ ("pins.leaked_rdds" -> leaked)
  }

  def stop(): Unit = {
    client.shutdownNow()
    spark.stop()
  }
}
