package perfbench

import java.util.concurrent.{ExecutionException, Executors, ThreadFactory, TimeUnit, TimeoutException}

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

/** The closed loop's single client: one blocking call at a time, each on
  * the client thread under a deadline. A call that throws or overruns
  * its deadline is logged as failed (its Spark job group is cancelled and
  * the possibly wedged thread abandoned for a fresh one); the caller gets
  * None and carries on, so every metric still prints. */
final class Client(spark: SparkSession, log: Log, deadlineS: Double, traced: Boolean) {
  private val sc = spark.sparkContext
  private var pool = newPool()
  private var nextId = 0L
  private var phaseId = 0L
  private var phaseName = ""
  val spans = mutable.ArrayBuffer.empty[Span]
  /** Σ wall of every call so far. */
  var measuredS = 0.0

  private def newPool() = Executors.newSingleThreadExecutor(new ThreadFactory {
    def newThread(r: Runnable): Thread = {
      val t = new Thread(r, "perfbench-client")
      t.setDaemon(true)
      t
    }
  })

  private def gcMs(): Long = {
    import scala.jdk.CollectionConverters._
    java.lang.management.ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime.max(0L)).sum
  }

  private def compileNs(): Long =
    org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator.compileTime

  /** Opens a workload phase; the calls that follow are its children. */
  def phase(name: String): Unit = {
    nextId += 1
    phaseId = nextId
    phaseName = name
  }

  /** One timed call. `name` is `Module.function`; `group` tags the call
    * (query family, registry section, ...); `items` is how many requests
    * the call served (queries in a batch, rows ingested). */
  def call[T](name: String, group: String = "", items: Int = 1)(body: => T): Option[T] = {
    nextId += 1
    val id = nextId
    val jobGroup = s"perfbench-$id"
    val g0 = gcMs()
    val c0 = compileNs()
    val t0 = System.currentTimeMillis
    val n0 = System.nanoTime
    val fut = pool.submit(() => {
      sc.setLocalProperty(Tracer.SpanProp, id.toString)
      sc.setJobGroup(jobGroup, name, interruptOnCancel = true)
      try body finally sc.clearJobGroup()
    })
    val result: Either[String, T] =
      try Right(fut.get((deadlineS * 1000).toLong, TimeUnit.MILLISECONDS))
      catch {
        case _: TimeoutException =>
          sc.cancelJobGroup(jobGroup)
          fut.cancel(true)
          pool.shutdownNow()
          pool = newPool()
          Left(s"deadline of ${deadlineS}s exceeded")
        case e: ExecutionException =>
          val c = Option(e.getCause).getOrElse(e)
          Left(s"${c.getClass.getName}: ${Option(c.getMessage).getOrElse("")}".take(300))
      }
    val wall = (System.nanoTime - n0) / 1e9
    val t1 = System.currentTimeMillis
    measuredS += wall
    if (traced)
      spans += Span(id, name, phaseName, group, phaseId, t0, t1, result.isRight,
        gcMs() - g0, compileNs() - c0)
    log.emit("ev" -> "call", "id" -> id, "name" -> name, "phase" -> phaseName,
      "group" -> group, "items" -> items, "wall_s" -> wall,
      "ok" -> result.isRight, "err" -> result.left.getOrElse(""))
    result.toOption
  }

  /** Runs the benchmark's own untimed work (checks, dumps) on the calling
    * thread, tagging its jobs so the tracer leaves them out. */
  def untimed[T](body: => T): T = {
    sc.setLocalProperty(Tracer.SpanProp, Tracer.Untimed.toString)
    try body finally sc.setLocalProperty(Tracer.SpanProp, null)
  }

  def close(): Unit = pool.shutdownNow()
}
