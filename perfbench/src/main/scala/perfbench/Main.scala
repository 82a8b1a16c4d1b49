package perfbench

import java.io.{File, FileInputStream}
import java.lang.management.{ManagementFactory, MemoryType}
import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

/** JVM side of the benchmark: sets the session up, runs one workload's
  * phases through the closed-loop client and logs every call, fact and
  * check as JSON lines for the launcher (perfbench/run.py), which turns
  * them into metrics.
  *
  * Usage: perfbench.Main <workload> <dataDir> <outDir> <trace 0|1> <cores>
  *        <callDeadlineSeconds>
  */
object Main {
  private def session(cores: Int, warehouse: String): SparkSession =
    SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.warehouse.dir", warehouse)
      .getOrCreate()

  /** (machine busy ticks, own ticks, steal ticks) — the /proc/stat method
    * graft.Bench uses to separate other processes' CPU from our own. */
  private def cpuTicks(): Array[Long] = {
    val c = Files.readString(Paths.get("/proc/stat")).linesIterator.next().trim.split("\\s+")
    val self = Files.readString(Paths.get("/proc/self/stat")).split("\\s+")
    Array(c(1).toLong + c(2).toLong + c(3).toLong + c(6).toLong + c(7).toLong,
      self(13).toLong + self(14).toLong, c(8).toLong)
  }

  private def heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala
    .filter(_.getType == MemoryType.HEAP)

  def main(args: Array[String]): Unit = {
    val Array(workload, data, out, trace, coresArg, deadline) = args
    val cores = coresArg.toInt
    val traced = trace == "1"
    new File(out).mkdirs()
    val log = new Log(s"$out/events.jsonl")
    def mark(name: String): Unit = log.emit("ev" -> "mark", "name" -> name, "t" -> System.currentTimeMillis)
    mark("jvm_main")
    val params = new java.util.Properties()
    val in = new FileInputStream(s"$data/params.properties")
    try params.load(in) finally in.close()
    val tables = Option(new File(data).listFiles()).toSeq.flatten
      .filter(_.getName.endsWith(".parquet")).map(_.getPath).sorted

    // set-up, three times: session start plus the schema of every input
    // table; the launcher reports the median
    var spark: SparkSession = null
    for (i <- 0 until 3) {
      val t0 = System.nanoTime
      spark = session(cores, s"$out/warehouse")
      spark.sparkContext.setLogLevel("WARN")
      tables.foreach(t => spark.read.parquet(t).schema)
      log.emit("ev" -> "setup", "wall_s" -> (System.nanoTime - t0) / 1e9)
      if (i < 2) spark.stop()
    }
    mark("setup_done")

    val tracer = if (traced) Some(new Tracer) else None
    tracer.foreach { t =>
      spark.sparkContext.addSparkListener(t)
      spark.listenerManager.register(t)
    }
    val client = new Client(spark, log, deadline.toDouble, traced)
    val ctx = new Ctx(spark, log, client, data, out, traced, params)
    val c0 = cpuTicks()
    val t0 = System.nanoTime
    try workload match {
      case "registry" => Workloads.registry(ctx)
      case "scaled" =>
        Workloads.vectors(ctx)
        Workloads.docs(ctx)
    } catch {
      case e: Throwable => log.emit("ev" -> "error", "err" -> e.toString.take(500))
    }
    val dt = (System.nanoTime - t0) / 1e9
    mark("workload_done")
    val c1 = cpuTicks()
    // what the run leaves live on the heap (memos, caches, persisted
    // blocks): used heap after two full collections, since the first lets
    // Spark's ContextCleaner drop the broadcasts and shuffles it frees
    System.gc()
    Thread.sleep(300)
    System.gc()
    log.fact("heap_retained_mb", heapPools.map(_.getUsage.getUsed).sum / 1048576.0)
    log.fact("ext_cores", ((c1(0) - c0(0)) - (c1(1) - c0(1))).max(0L) / 100.0 / dt)
    log.fact("steal_cores", (c1(2) - c0(2)).max(0L) / 100.0 / dt)
    log.fact("measured_s", client.measuredS)
    log.fact("workload_wall_s", dt)

    tracer.foreach { t =>
      org.apache.spark.perfbench.Bus.drain(spark.sparkContext)
      val calls = client.spans.toSeq
      val (layers, owner) = t.summarize(calls, cores)
      layers.foreach { case (k, v) => log.fact(k, v) }
      // spans, written once at the end: phases (parent 0) then calls
      val runId = s"$workload-${ProcessHandle.current.pid}"
      val phases = calls.groupBy(_.parent).toSeq.sortBy(_._1).map { case (pid, cs) =>
        Log.obj(Seq("run" -> runId, "id" -> pid, "name" -> cs.head.phase, "parent" -> 0L,
          "t0" -> cs.map(_.t0).min, "t1" -> cs.map(_.t1).max))
      }
      val jobsOf = owner.groupBy(_._2).map { case (sid, js) => sid -> js.size }
      val callLines = calls.map(s => Log.obj(Seq("run" -> runId, "id" -> s.id, "name" -> s.name,
        "parent" -> s.parent, "group" -> s.group, "t0" -> s.t0, "t1" -> s.t1, "ok" -> s.ok,
        "jobs" -> jobsOf.getOrElse(s.id, 0))))
      Files.write(Paths.get(s"$out/spans.jsonl"), (phases ++ callLines).asJava)
    }
    mark("trace_done")
    log.emit("ev" -> "done")
    log.close()
    client.close()
    spark.stop()
    System.exit(0)
  }
}
