package perfbench

import java.lang.management.ManagementFactory

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.types.StructType

/** A layer step of a pass: `run` makes its calls through the tap. */
final case class Step(name: String, layer: String, run: Tap => Unit)

/** Records one span per public call a step makes. */
final class Tap(rec: Recorder, pass: Int, parent: Int) {
  def call[T](name: String)(body: => T): T =
    rec.span(pass, parent, name, "")(_ => body).fold(e => throw e, identity)
}

/** One benchmark run in one JVM: set up, warm up, then run passes of the
  * workload back to back (one closed-loop client) until the measuring
  * time is spent, and write the raw measurements as JSON.
  *
  * Args: workload seed seconds trace dataDir workDir outFile
  */
object Main {
  final case class PassStat(wall: Double, cpu: Double, writeBytes: Long,
      traced: Boolean, refS: Double)

  private val cpus = math.min(4, Runtime.getRuntime.availableProcessors())

  private def session(work: String): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .config("spark.hadoop.fs.file.impl", classOf[CountingFs].getName)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  private def workloadOf(name: String, spark: SparkSession, data: String,
      seed: Long): Workload = name match {
    case "medallion" => new MedallionWorkload(spark, data, seed)
    case "kernels_lake" => new KernelsLake(spark, data, seed)
    case other => sys.error(s"unknown workload $other")
  }

  def main(args: Array[String]): Unit = {
    val Array(workload, seedS, secondsS, traceS, data, work, outFile) = args
    val seed = seedS.toLong
    val seconds = secondsS.toDouble
    val trace = traceS == "1"
    val spark = session(work)
    val sessionS = (System.currentTimeMillis() -
      ManagementFactory.getRuntimeMXBean.getStartTime) / 1000.0

    val rec = new Recorder(spark)
    val wl = workloadOf(workload, spark, data, seed)

    // set-up: stage the workload's inputs, then one cold pass that pays
    // JIT, codegen and the first-use index and memo builds
    val stageS = timed(wl.stage(s"$work/stage"))._1
    val failures = ArrayBuffer[String]()
    var attempted = 0
    def runPass(pass: Int, traced: Boolean): PassStat = {
      if (traced) rec.attach() else rec.detach()
      val cpu0 = cpuS(); val w0 = Io.bytesWritten()
      val t0 = System.nanoTime()
      val res = rec.span(pass, 0, "pass", "") { pid =>
        wl.steps(pass).foreach { st =>
          attempted += 1
          val r = rec.span(pass, pid, st.name, st.layer)(sid =>
            st.run(new Tap(rec, pass, sid)))
          r.left.foreach(e => failures += s"pass $pass ${st.name}: ${msg(e)}")
        }
      }
      res.left.foreach(e => failures += s"pass $pass: ${msg(e)}")
      val wall = (System.nanoTime() - t0) / 1e9
      val stat = PassStat(wall, cpuS() - cpu0, Io.bytesWritten() - w0, traced,
        Seq.fill(3)(timed(hostRef(spark, data))._1).sorted.apply(1))
      rec.detach()
      stat
    }
    val warmS = runPass(0, traced = false).wall

    // measured passes until the measuring time is spent; a traced run
    // alternates traced and untraced passes (at least one of each) so
    // the tracing overhead is measured in the same run
    val passes = ArrayBuffer[PassStat]()
    val tEnd = System.nanoTime() + (seconds * 1e9).toLong
    val minPasses = if (trace) 2 else 1
    while (passes.size < minPasses || System.nanoTime() < tEnd) {
      val p = passes.size + 1
      passes += runPass(p, traced = trace && p % 2 == 1)
    }

    val liveMb = liveHeapMb()
    val check = s"$work/check"
    val checked = wl.writeCheck(check)
    val rssMb = peakRssMb()
    spark.stop()

    val j = new Json
    j.obj {
      j.field("workload", workload); j.field("seed", seed)
      j.field("cpus", cpus)
      j.field("session_s", sessionS); j.field("stage_s", stageS)
      j.field("warm_s", warmS)
      j.field("peak_rss_mb", rssMb); j.field("live_heap_mb", liveMb)
      j.field("attempted", attempted)
      j.strs("failures", failures.toSeq)
      j.strs("check_tables", checked)
      val oracles = graft.SparkEntry.oracleSql
      j.pairs("oracles", checked.flatMap(t => oracles.get(t).map(t -> _)))
      j.objs("passes", passes.toSeq) { p =>
        j.field("wall_s", p.wall); j.field("cpu_s", p.cpu)
        j.field("write_bytes", p.writeBytes); j.field("traced", p.traced)
        j.field("host_ref_s", p.refS)
      }
      j.objs("spans", rec.spans.toSeq) { s =>
        j.field("id", s.id); j.field("parent", s.parent); j.field("pass", s.pass)
        j.field("name", s.name); j.field("layer", s.layer)
        j.field("start", s.start); j.field("end", s.end)
        j.field("write_bytes", s.writeBytes); j.field("list_ops", s.listOps)
      }
      j.objs("jobs", rec.jobs.toSeq) { case (span, id, t0, t1) =>
        j.field("span", span); j.field("id", id)
        j.field("start", t0); j.field("end", t1)
      }
      j.objs("stages", rec.stages.toSeq) { case (span, cpu, sw) =>
        j.field("span", span); j.field("cpu_ns", cpu)
        j.field("shuffle_write_bytes", sw)
      }
      j.objs("plans", rec.plans.toSeq) { case (span, ex, fb) =>
        j.field("span", span); j.field("exchanges", ex); j.field("fallbacks", fb)
      }
      wl.extra(j)
    }
    java.nio.file.Files.writeString(java.nio.file.Paths.get(outFile), j.result)
  }

  private def msg(e: Throwable): String =
    s"${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).take(400)}"

  private def timed[T](body: => T): (Double, T) = {
    val t0 = System.nanoTime()
    val r = body
    ((System.nanoTime() - t0) / 1e9, r)
  }

  private def cpuS(): Double = ManagementFactory.getOperatingSystemMXBean match {
    case os: com.sun.management.OperatingSystemMXBean => os.getProcessCpuTime / 1e9
    case _ => 0.0
  }

  /** Heap still in use after a full collection, in MB: what the driver
    * keeps alive. Taken once, after the measured passes: a full
    * collection between passes would let Spark's context cleaner run the
    * previous pass's shuffle and broadcast clean-up inside the next. */
  private def liveHeapMb(): Double = {
    System.gc()
    ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
  }

  /** Peak resident set of this process (VmHWM), in MB. */
  private def peakRssMb(): Double = {
    val f = new java.io.File("/proc/self/status")
    if (!f.exists()) return 0.0
    val src = scala.io.Source.fromFile(f)
    try src.getLines().collectFirst {
      case l if l.startsWith("VmHWM:") =>
        l.split("\\s+")(1).toDouble / 1024.0
    }.getOrElse(0.0) finally src.close()
  }

  /** A fixed lineitem aggregate, timed (median of three) after every
    * pass to diagnose host drift. */
  private def hostRef(spark: SparkSession, data: String): Unit =
    graft.sources.Tables.lineitem(spark, data)
      .groupBy("l_returnflag", "l_linestatus")
      .agg(org.apache.spark.sql.functions.sum("l_extendedprice"))
      .collect()
}

/** What a workload provides to the run loop. */
trait Workload {
  def stage(dir: String): Unit
  def steps(pass: Int): Seq[Step]
  def writeCheck(dir: String): Seq[String]
  def extra(j: Json): Unit = ()
}

final class MedallionWorkload(spark: SparkSession, data: String, seed: Long)
    extends Workload {
  private val m = new Medallion(spark, data, seed)
  def stage(dir: String): Unit = m.stage(dir)
  def steps(pass: Int): Seq[Step] = m.steps
  def writeCheck(dir: String): Seq[String] = m.writeCheck(dir)
  override def extra(j: Json): Unit = {
    j.objs("gold_status", m.goldStatus.toSeq.sortBy(_._1)) { case (n, r) =>
      j.field("table", n); j.field("ok", r.isRight)
      j.field("rows", r.getOrElse(-1L))
    }
    j.field("validated", m.validated)
  }
}

/** Registered engine queries, one step each: the graph kernels, the
  * dedup clustering, the graph-ANN walk and the streaming ingest,
  * maintenance and serving paths. The seed shuffles their order in
  * every pass. */
final class KernelsLake(spark: SparkSession, data: String, seed: Long)
    extends Workload {
  private val results =
    scala.collection.concurrent.TrieMap.empty[String, (StructType, Array[Row])]

  private val all: Seq[Step] = KernelsLake.Ops.map { case (q, layer) =>
    val fn = graft.SparkEntry.queries(q)
    Step(q, layer, _ => {
      val df = fn(spark, data)
      results(q) = (df.schema, df.collect())
    })
  }

  def stage(dir: String): Unit = ()
  /** The cold pass runs in registry order, so every seed warms up the
    * same way; measured passes run in a seed-shuffled order. */
  def steps(pass: Int): Seq[Step] =
    if (pass == 0) all else new scala.util.Random(seed * 1000003L + pass).shuffle(all)
  def writeCheck(dir: String): Seq[String] =
    results.toSeq.sortBy(_._1).map { case (q, (schema, rows)) =>
      import scala.jdk.CollectionConverters._
      spark.createDataFrame(rows.toList.asJava, schema).coalesce(1)
        .write.mode("overwrite").parquet(s"$dir/$q")
      q
    }
}

object KernelsLake {
  val Ops: Seq[(String, String)] = Seq(
    "gr02_pagerank" -> "operators.graph",
    "d06_dedup_canonical" -> "operators.cluster",
    "v19_diskann_serving" -> "queries.walk",
    "st05_incremental_upsert" -> "streaming.ingest",
    "st11_incremental_join_view" -> "streaming.maintain",
    "st17_streaming_pq_probe" -> "streaming.serve")
}

/** Minimal JSON writer for the run record. */
final class Json {
  private val sb = new StringBuilder
  private var first = true
  private def sep(): Unit = { if (!first) sb.append(','); first = false }
  private def key(k: String): Unit = { sep(); sb.append(Json.q(k)).append(':') }
  def obj(body: => Unit): Unit = {
    sb.append('{'); first = true; body; sb.append('}'); first = false
  }
  def field(k: String, v: Any): Unit = {
    key(k)
    v match {
      case s: String => sb.append(Json.q(s))
      case d: Double => sb.append(if (d.isNaN || d.isInfinite) "null" else d.toString)
      case other => sb.append(other.toString)
    }
  }
  def strs(k: String, xs: Seq[String]): Unit = {
    key(k); sb.append(xs.map(Json.q).mkString("[", ",", "]"))
  }
  def pairs(k: String, kvs: Seq[(String, String)]): Unit = {
    key(k)
    sb.append(kvs.map { case (a, b) => Json.q(a) + ":" + Json.q(b) }.mkString("{", ",", "}"))
  }
  def objs[T](k: String, xs: Seq[T])(f: T => Unit): Unit = {
    key(k); sb.append('[')
    xs.zipWithIndex.foreach { case (x, i) =>
      if (i > 0) sb.append(',')
      obj(f(x))
    }
    sb.append(']'); first = false
  }
  def result: String = sb.toString
}

object Json {
  def q(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
}
