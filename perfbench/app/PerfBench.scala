package perfbench

import java.io.File
import java.lang.management.{ManagementFactory, MemoryType}
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}
import javax.management.{Notification, NotificationEmitter}
import javax.management.openmbean.CompositeData

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import com.sun.management.GarbageCollectionNotificationInfo
import org.apache.spark.sql.SparkSession

/** The benchmark's JVM side: one workload in one JVM.
  *
  * usage: PerfBench <workload> <inputDir> <workDir> <passes> <trace 0|1> <resultJson>
  *
  * Phases: session start, workload preparation plus one untimed pass
  * (together the set-up), then `passes` timed passes. With trace 1, passes
  * alternate between untraced and traced so the trace overhead is measured
  * inside one JVM. After the timed loop the workload exports what the
  * checks need; the result file carries every timing, the exports'
  * locations and, when traced, the raw trace. */
object PerfBench {
  /** Serializes the result file and the lookup results. */
  val json: ObjectMapper = new ObjectMapper().registerModule(DefaultScalaModule)

  def main(args: Array[String]): Unit = {
    val Array(workload, inputDir, workDir, passesArg, traceArg, resultPath) = args
    val passCount = passesArg.toInt
    val traced = traceArg == "1"
    val t0 = System.nanoTime()
    val cores = Runtime.getRuntime.availableProcessors()
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName(s"perfbench-$workload")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.local.dir", s"$workDir/spark-local")
      .config("spark.sql.warehouse.dir", s"$workDir/warehouse")
      .config("spark.sql.shuffle.partitions", (2 * cores).toString)
      // a small unified memory (36 MB at a 1 GiB heap) so the dedup's
      // persisted intermediates exceed storage memory and spill
      .config("spark.memory.fraction", "0.05")
      .config("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
      .config("spark.sql.streaming.forceDeleteTempCheckpointLocation", "true")
      .config("spark.graft.streaming.maxFilesPerTrigger", "1")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    HeapAfterGc.install()
    val tracer = new Tracer(spark)
    val bench = new Bench(spark, tracer, traced)
    val wl: Workload = workload match {
      case "nightly_batch" => new NightlyBatch(bench, inputDir, workDir)
      case "sync_and_serve" => new SyncAndServe(bench, inputDir, workDir)
      case other => sys.error(s"unknown workload $other")
    }
    val sessionS = (System.nanoTime() - t0) / 1e9

    val tPrep = System.nanoTime()
    wl.prepare()
    bench.warmup = true
    wl.pass(-1)
    bench.warmup = false
    val warmupS = (System.nanoTime() - tPrep) / 1e9

    val jvmSetupS = ManagementFactory.getRuntimeMXBean.getUptime / 1000.0
    val passes = mutable.ArrayBuffer.empty[Map[String, Any]]
    HeapAfterGc.reset()
    val tLoop = System.nanoTime()
    var i = 0
    while (i < passCount) {
      val traceThis = traced && i % 2 == 1
      if (traceThis) tracer.start()
      tracer.trace = s"$workload#$i"
      bench.pass = i
      val ps = System.nanoTime()
      val timed = tracer.span(workload) { wl.pass(i) }
      val s = (System.nanoTime() - ps) / 1e9
      if (traceThis) tracer.stop()
      passes += Map("i" -> i, "s" -> timed.getOrElse(s), "wall_s" -> s, "traced" -> traceThis)
      i += 1
    }
    val loopS = (System.nanoTime() - tLoop) / 1e9
    val heapAfterGcPeak = HeapAfterGc.peakBytes

    val exports = wl.export()
    val storageMax = spark.sparkContext.getExecutorMemoryStatus.values.map(_._1).sum
    val result = Map(
      "workload" -> workload,
      "cores" -> cores,
      "heap_max_bytes" -> Runtime.getRuntime.maxMemory,
      "storage_memory_bytes" -> storageMax,
      "session_s" -> sessionS,
      "jvm_setup_s" -> jvmSetupS,
      "warmup_s" -> warmupS,
      "loop_s" -> loopS,
      "passes" -> passes,
      "ops" -> bench.ops,
      "failures" -> bench.failures,
      "exports" -> exports,
      "extra" -> wl.extra(),
      "vm_hwm_kb" -> vmHwmKb(),
      "heap_after_gc_peak_bytes" -> heapAfterGcPeak,
      "trace" -> (if (traced) tracer.toJson else null))
    Files.write(Paths.get(resultPath), json.writeValueAsString(result).getBytes(StandardCharsets.UTF_8))
    spark.stop()
  }

  private def vmHwmKb(): Long =
    scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).map(_.replaceAll("[^0-9]", "").toLong).getOrElse(0L)
}

/** The largest Java heap in use right after a collection: the heap the
  * program holds on to, which the fixed -Xms/-Xmx hides from VmHWM. */
object HeapAfterGc {
  @volatile private var peak = 0L
  def peakBytes: Long = peak
  def reset(): Unit = peak = 0L

  def install(): Unit = {
    val heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == MemoryType.HEAP).map(_.getName).toSet
    ManagementFactory.getGarbageCollectorMXBeans.asScala.foreach {
      case e: NotificationEmitter => e.addNotificationListener((n: Notification, _: Any) =>
        if (n.getType == GarbageCollectionNotificationInfo.GARBAGE_COLLECTION_NOTIFICATION) {
          val info = GarbageCollectionNotificationInfo.from(n.getUserData.asInstanceOf[CompositeData])
          val used = info.getGcInfo.getMemoryUsageAfterGc.asScala
            .collect { case (pool, u) if heapPools(pool) => u.getUsed }.sum
          if (used > peak) peak = used
        }, null, null)
      case _ =>
    }
  }
}

/** Shared plumbing for the workloads: timed, span-wrapped calls. */
final class Bench(val spark: SparkSession, val tracer: Tracer, val traced: Boolean) {
  var warmup = false
  var pass = -1
  val ops = mutable.ArrayBuffer.empty[Map[String, Any]]
  val failures = mutable.ArrayBuffer.empty[String]

  /** One operation a user waits for: a span when traced, a timed op record
    * when not warming up. A throw is recorded as a failed op and rethrown. */
  def op[T](name: String)(body: => T): T = {
    val t = System.nanoTime()
    try {
      val r = tracer.span(name)(body)
      if (!warmup) ops += Map("name" -> name, "ms" -> (System.nanoTime() - t) / 1e6,
        "pass" -> pass, "traced" -> tracer.enabled)
      r
    } catch {
      case e: Throwable =>
        failures += s"$name: ${e.getClass.getSimpleName}: ${e.getMessage}"
        throw e
    }
  }

  def rmrf(path: String): Unit = {
    def del(f: File): Unit = {
      if (f.isDirectory) Option(f.listFiles).toSeq.flatten.foreach(del)
      f.delete()
    }
    del(new File(path))
  }

  /** Bytes of the regular, non-hidden files under `path` (parquet/json
    * parts and markers; Hadoop's dot-prefixed checksums excluded). */
  def diskBytes(path: String): Long = {
    def walk(f: File): Long =
      if (f.isDirectory) Option(f.listFiles).toSeq.flatten
        .filterNot(_.getName.startsWith(".")).map(walk).sum
      else f.length
    walk(new File(path))
  }
}

trait Workload {
  def prepare(): Unit
  /** One pass of the journey; returns the pass's own timing in seconds
    * when it is not the whole call (a sync day excludes its lookup burst). */
  def pass(i: Int): Option[Double]
  /** Write what the checks need; returns a description for the harness. */
  def export(): Map[String, Any]
  def extra(): Map[String, Any] = Map.empty
}
