package perfbench

import scala.collection.mutable.ArrayBuffer

import org.apache.hadoop.fs.{FileStatus, LocalFileSystem, Path, PathFilter}
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.Exchange
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.util.QueryExecutionListener

/** The local filesystem with a counter on directory listings. Installed
  * as `fs.file.impl`, so every listing Spark or the engine issues through
  * the Hadoop API on the lake is counted; only the outermost call of a
  * nested listing counts. */
class CountingFs extends LocalFileSystem {
  private def counted[T](body: => T): T = {
    val d = CountingFs.depth.get
    if (d == 0) CountingFs.lists.incrementAndGet()
    CountingFs.depth.set(d + 1)
    try body finally CountingFs.depth.set(d)
  }
  override def listStatus(f: Path): Array[FileStatus] = counted(super.listStatus(f))
  override def listLocatedStatus(f: Path) = counted(super.listLocatedStatus(f))
  override def listStatusIterator(f: Path) = counted(super.listStatusIterator(f))
  override def globStatus(p: Path): Array[FileStatus] = counted(super.globStatus(p))
  override def globStatus(p: Path, fl: PathFilter): Array[FileStatus] =
    counted(super.globStatus(p, fl))
}

object CountingFs {
  val lists = new java.util.concurrent.atomic.AtomicLong()
  private val depth = ThreadLocal.withInitial[Int](() => 0)
}

/** Process-wide IO counters sampled at span boundaries. */
object Io {
  /** Bytes written through the Hadoop `file` scheme, all threads. */
  def bytesWritten(): Long = {
    import scala.jdk.CollectionConverters._
    org.apache.hadoop.fs.FileSystem.getAllStatistics.asScala
      .filter(_.getScheme == "file").map(_.getBytesWritten).sum
  }
  def listOps(): Long = CountingFs.lists.get()
}

/** One span: a timed call into a layer (or a whole pass). Times are
  * epoch milliseconds with sub-millisecond precision. */
final case class Span(id: Int, parent: Int, pass: Int, name: String,
    layer: String, start: Double, end: Double, writeBytes: Long,
    listOps: Long)

/** In-memory trace of one run: spans plus the Spark work the listeners
  * attribute to the layer span open when each event is delivered.
  * Listener events are drained at every layer-span boundary, so each
  * event lands on the span that issued the work. */
final class Recorder(spark: SparkSession) {
  val spans = ArrayBuffer[Span]()
  /** (span, jobId, startMs, endMs) */
  val jobs = ArrayBuffer[(Int, Int, Double, Double)]()
  /** (span, executorCpuNs, shuffleWriteBytes) */
  val stages = ArrayBuffer[(Int, Long, Long)]()
  /** (span, exchanges, fallbackExprs) */
  val plans = ArrayBuffer[(Int, Int, Int)]()

  @volatile private var current = -1
  private val jobStarts = scala.collection.concurrent.TrieMap.empty[Int, (Int, Long)]
  private var nextId = 0
  private var attached = false

  private val sparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit =
      jobStarts(e.jobId) = (current, e.time)
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      jobStarts.remove(e.jobId).foreach { case (span, t0) =>
        jobs.synchronized { jobs += ((span, e.jobId, t0.toDouble, e.time.toDouble)) }
      }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      val m = e.stageInfo.taskMetrics
      if (m != null) stages.synchronized {
        stages += ((current, m.executorCpuTime, m.shuffleWriteMetrics.bytesWritten))
      }
    }
  }

  private val qeListener = new QueryExecutionListener {
    override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit = {
      val (ex, fb) = Recorder.planCounts(qe.executedPlan)
      plans.synchronized { plans += ((current, ex, fb)) }
    }
    override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
  }

  def attach(): Unit = if (!attached) {
    spark.sparkContext.addSparkListener(sparkListener)
    spark.listenerManager.register(qeListener)
    attached = true
  }

  def detach(): Unit = if (attached) {
    drain()
    spark.sparkContext.removeSparkListener(sparkListener)
    spark.listenerManager.unregister(qeListener)
    attached = false
  }

  private def drain(): Unit =
    org.apache.spark.PerfbenchBridge.drainListeners(spark.sparkContext)

  /** Time `body` as a span. With `layer` set and the recorder attached,
    * the Spark work issued inside is attributed to this span. The body
    * gets the span's id; returns its value, or the failure it threw. */
  def span[T](pass: Int, parent: Int, name: String, layer: String)(
      body: Int => T): Either[Throwable, T] = {
    val id = synchronized { nextId += 1; nextId }
    val owns = attached && layer.nonEmpty
    if (owns) { drain(); current = id }
    val w0 = Io.bytesWritten(); val l0 = Io.listOps()
    val t0 = Recorder.nowMs()
    val r = try Right(body(id)) catch { case e: Throwable => Left(e) }
    val t1 = Recorder.nowMs()
    if (owns) { drain(); current = -1 }
    spans.synchronized {
      spans += Span(id, parent, pass, name, layer, t0, t1,
        Io.bytesWritten() - w0, Io.listOps() - l0)
    }
    r
  }
}

object Recorder {
  private val epoch0 = System.currentTimeMillis().toDouble
  private val nano0 = System.nanoTime()
  /** Epoch milliseconds on the monotonic clock (comparable with the
    * millisecond event times Spark's listener events carry). */
  def nowMs(): Double = epoch0 + (System.nanoTime() - nano0) / 1e6

  /** Exchange nodes and CodegenFallback expressions in an executed
    * plan, looking through adaptive plans, query stages and subqueries. */
  def planCounts(root: SparkPlan): (Int, Int) = {
    var ex = 0; var fb = 0
    def walk(p: SparkPlan): Unit = p match {
      case a: AdaptiveSparkPlanExec => walk(a.executedPlan)
      case q: QueryStageExec => walk(q.plan)
      case other =>
        if (other.isInstanceOf[Exchange]) ex += 1
        other.expressions.foreach(e =>
          fb += e.collect { case c: CodegenFallback => c }.size)
        other.children.foreach(walk)
        other.subqueries.foreach(walk)
    }
    walk(root)
    (ex, fb)
  }
}
