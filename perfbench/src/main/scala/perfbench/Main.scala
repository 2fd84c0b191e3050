package perfbench

import java.lang.management.{ManagementFactory, MemoryType}
import java.nio.file.{Files, Paths}
import javax.management.{Notification, NotificationEmitter}
import javax.management.openmbean.CompositeData

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import com.sun.management.GarbageCollectionNotificationInfo
import org.apache.spark.PerfbenchBridge
import org.apache.spark.sql.SparkSession

/** The benchmark's measuring process: runs one workload in a fresh JVM and
  * writes what it observed (raw samples, outputs to check, and — when
  * tracing — spans and per-job task metrics) as one JSON file. `run.py`
  * builds this program, checks the outputs and reduces the samples to the
  * metrics it prints.
  *
  * Usage: perfbench.Main --workload W --seed N --seconds S --trace 0|1
  *          --cores C --out DIR --data DIR [--record-seeds a,b,...]
  *
  * With --record-seeds the process runs one set-up per seed and no timed
  * window: it only observes outputs, for the recorded-expectations table.
  */
object Main {

  final case class Args(workload: String, seed: Long, seconds: Int, trace: Boolean,
                        cores: Int, out: String, data: String,
                        recordSeeds: Seq[Long])

  def parse(argv: Array[String]): Args = {
    val kv = argv.grouped(2).map {
      case Array(k, v) if k.startsWith("--") => k.drop(2) -> v
      case other => throw new IllegalArgumentException(s"bad argument: ${other.mkString(" ")}")
    }.toMap
    def get(k: String): String =
      kv.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    Args(get("workload"), get("seed").toLong, get("seconds").toInt,
      get("trace") == "1", get("cores").toInt, get("out"), get("data"),
      kv.get("record-seeds").toSeq.flatMap(_.split(",")).map(_.trim.toLong))
  }

  def session(cores: Int, out: String): SparkSession =
    SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores)
      .config("spark.default.parallelism", cores)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.ansi.enabled", "false")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.local.dir", s"$out/spark-local")
      .config("spark.sql.warehouse.dir", s"$out/warehouse")
      .getOrCreate()

  def gcMillis(): Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime.max(0L)).sum

  /** CPU time of every thread of this process (user + system). */
  def processCpuNanos(): Long =
    ManagementFactory.getOperatingSystemMXBean
      .asInstanceOf[com.sun.management.OperatingSystemMXBean].getProcessCpuTime

  def vmHwmLine(): String =
    Files.readAllLines(Paths.get("/proc/self/status")).asScala
      .find(_.startsWith("VmHWM:")).getOrElse("")

  /** Largest heap in use right after a collection, over every collection
    * since construction: the peak live set, plus old-generation garbage no
    * collection had reached yet. Unlike the resident set it does not follow
    * how far the collector let the young generation grow between
    * collections. */
  final class LiveHeapPeak {
    private val names = ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == MemoryType.HEAP).map(_.getName).toSet
    @volatile private var peak = 0L
    ManagementFactory.getGarbageCollectorMXBeans.asScala.foreach {
      case e: NotificationEmitter =>
        e.addNotificationListener((n: Notification, _: AnyRef) =>
          if (n.getType == GarbageCollectionNotificationInfo.GARBAGE_COLLECTION_NOTIFICATION) {
            val info = GarbageCollectionNotificationInfo.from(n.getUserData.asInstanceOf[CompositeData])
            val used = info.getGcInfo.getMemoryUsageAfterGc.asScala.collect {
              case (pool, u) if names(pool) => u.getUsed
            }.sum
            synchronized { peak = math.max(peak, used) }
          }, null, null)
      case _ =>
    }
    def bytes: Long = peak
  }

  /** Peak use of the non-heap pools: metaspace (classes, including the
    * ones code generation compiles) and the code cache. */
  def nonHeapPeakBytes: Long =
    ManagementFactory.getMemoryPoolMXBeans.asScala.filter(_.getType == MemoryType.NON_HEAP)
      .map(_.getPeakUsage.getUsed).sum

  def main(argv: Array[String]): Unit = {
    val t0 = System.nanoTime()
    val liveHeap = new LiveHeapPeak
    val a = parse(argv)
    Files.createDirectories(Paths.get(a.out))
    val spark = session(a.cores, a.out)
    spark.sparkContext.setLogLevel("ERROR")
    val listener =
      if (a.trace) Some(new JobListener(Seq(Queries.QueryProp, Queries.PassProp))) else None
    listener.foreach(spark.sparkContext.addSparkListener)
    val spans = new Spans(a.trace)
    val sessionS = (System.nanoTime() - t0) / 1e9
    val gc0 = gcMillis()

    val body: Map[String, Any] = try {
      a.workload match {
        case "crawl_durable_thin" =>
          if (a.recordSeeds.nonEmpty) Crawls.record(spark, a.recordSeeds, a.out)
          else Crawls.run(spark, a.seed, a.seconds, spans, a.out, a.trace)
        case "queries_sf0.01" =>
          if (a.recordSeeds.nonEmpty) Queries.record(spark, a.data)
          else Queries.run(spark, a.data, a.seconds, spans)
        case w => throw new IllegalArgumentException(s"unknown workload $w")
      }
    } finally {
      listener.foreach(_ => PerfbenchBridge.drainListeners(spark.sparkContext))
    }

    val raw = body ++ Map(
      "workload" -> a.workload, "seed" -> a.seed, "cores" -> a.cores,
      "trace" -> a.trace, "session_s" -> sessionS,
      "gc_s" -> (gcMillis() - gc0) / 1e3,
      "vm_hwm" -> vmHwmLine(), "heap_live_peak_bytes" -> liveHeap.bytes,
      "nonheap_peak_bytes" -> nonHeapPeakBytes,
      "spans" -> spans.all.map(s => Map("name" -> s.name, "start_ms" -> s.startMs,
        "end_ms" -> s.endMs, "parent" -> s.parent)),
      "jobs" -> listener.toSeq.flatMap(_.all).map(j => Map(
        "id" -> j.jobId, "start_ms" -> j.startMs, "end_ms" -> j.endMs,
        "call_site" -> j.callSite, "props" -> j.props, "tasks" -> j.tasks,
        "cpu_ns" -> j.cpuNs, "gc_ms" -> j.gcMs,
        "shuffle_write_bytes" -> j.shuffleWriteBytes,
        "spill_bytes" -> j.spillBytes, "output_bytes" -> j.outputBytes,
        "wait_ms" -> j.waitMs)))
    val mapper = new ObjectMapper().registerModule(DefaultScalaModule)
    Files.writeString(Paths.get(a.out, "raw.json"), mapper.writeValueAsString(raw))
    spark.stop()
  }
}
