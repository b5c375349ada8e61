package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Everything a workload needs: the session, the tracer, its inputs
  * and the measurement record it fills. */
final class Ctx(val spark: SparkSession, val tracer: Tracer,
    val args: Map[String, String]) {
  def data: String = args("data")
  def work: String = args("work")
  def seconds: Double = args("seconds").toDouble
  def corrupt: Boolean = args.get("corrupt").contains("1")

  /** Set-up, in process CPU ms: JVM start to session ready, each
    * fixture build, the warm-up. */
  var sessionCpuMs = 0.0
  val fixtureCpuMs = mutable.ArrayBuffer[Double]()
  var warmupCpuMs = 0.0
  /** Every op's samples, and those of the ops inside the window. */
  val samples = mutable.LinkedHashMap[String, mutable.ArrayBuffer[Double]]()
  val windowSamples = mutable.LinkedHashMap[String, mutable.ArrayBuffer[Double]]()
  var window = Int.MaxValue
  val ops = mutable.ArrayBuffer[(Double, Double)]()
  val counters = mutable.LinkedHashMap[String, Double]()
  val checks = mutable.ArrayBuffer[(String, Boolean, String)]()
  var attempted = 0
  var failed = 0
  var measureS = 0.0
  var gcMs = 0.0
  var jitMs = 0.0
  var stealS = 0.0
  var cotenantCpus = 0.0

  /** Bookkeeping an op defers until its latency is recorded, e.g. the
    * traced run's file counts. */
  val afterOp = mutable.ArrayBuffer[() => Unit]()

  def sample(name: String, ms: Double): Unit = {
    samples.getOrElseUpdate(name, mutable.ArrayBuffer()) += ms
    if (attempted <= window)
      windowSamples.getOrElseUpdate(name, mutable.ArrayBuffer()) += ms
  }

  def check(name: String, ok: Boolean, detail: => String = ""): Unit = {
    checks += ((name, ok, if (ok) "" else detail))
    if (!ok) System.err.println(s"CHECK FAILED $name: $detail")
  }

  /** Time `body` in ms (wall clock). */
  def timed[T](body: => T): (T, Double) = {
    val s = System.nanoTime()
    val r = body
    (r, (System.nanoTime() - s) / 1e6)
  }

  /** Run `body`; return its result and the CPU ms the JVM's Java
    * threads (driver, executor task and Spark threads) spent meanwhile.
    * CPU time excludes time the hypervisor stole, so it is the measure
    * that stays put on a shared box. JIT compiler and GC threads are
    * left out: they work off earlier ops on their own schedule. */
  def cpuTimed[T](body: => T): (T, Double) = {
    val c0 = Host.threadCpu()
    val r = body
    (r, Host.threadCpuMsSince(c0))
  }

  /** Like `cpuTimed`, but the CPU ms of the whole process, JIT and GC
    * threads included: the measure of set-up, whose JIT warm-up is part
    * of its cost. */
  def processCpuTimed[T](body: => T): (T, Double) = {
    val c0 = Host.cpuMs()
    val r = body
    (r, Host.cpuMs() - c0)
  }

  /** Run `body`, recording its wall time as sample `name_ms` and its
    * Java-thread CPU time (`cpuTimed`) as `name_cpu_ms`. */
  def measured[T](name: String)(body: => T): T = {
    val ((r, ms), cpu) = cpuTimed(timed(body))
    sample(s"${name}_cpu_ms", cpu)
    sample(s"${name}_ms", ms)
    r
  }

  /** Runs fixture builds `reps` times and records each one's process
    * CPU time;
    * the last build's value is the fixture the workload measures. */
  def fixture[T](reps: Int)(build: Int => T): T =
    (0 until reps).map { r =>
      val (v, cpu) = processCpuTimed(build(r))
      fixtureCpuMs += cpu
      Host.log(s"fixture $r built")
      v
    }.last

  def warmup[T](body: => T): T = {
    val (r, cpu) = processCpuTimed(body)
    warmupCpuMs = cpu
    Host.log("warm-up done")
    r
  }

  /** The closed loop: one client, the next op starts when the previous
    * one ends, until `seconds` have passed, the op count is a multiple
    * of `granule` (a whole request round) and at least `window` ops
    * ran, or `maxOps` ran. The gated figures are taken over the first
    * `window` ops (all ops by default): a workload whose per-op cost
    * changes with its state sets a window, so that its figures do not
    * depend on how many ops a run completes. A workload whose ops are of
    * different kinds names op i's `kind`; its op samples are then
    * recorded as `op_ms:kind` etc. An op that throws counts as failed
    * and gives no latency sample. */
  def loop(maxOps: Int, granule: Int = 1, window: Int = Int.MaxValue,
      kind: Int => String = _ => "")(op: Int => Unit): Unit = {
    this.window = window
    Host.log("loop start")
    val gc0 = Host.gcMs()
    val jit0 = Host.jitMs()
    val host0 = Host.ticks()
    val start = System.nanoTime()
    var paused = 0L // time in afterOp bookkeeping, not measured
    var i = 0
    while ((System.nanoTime() - paused - start < seconds * 1e9 ||
        i % granule != 0 || (window < maxOps && i < window)) && i < maxOps) {
      val s = tracer.nowMs
      val c0 = Host.threadCpu()
      val steal0 = Host.ticks()._1
      attempted += 1
      try {
        op(i)
        val e = tracer.nowMs
        ops += ((s, e))
        val k = if (kind(i).isEmpty) "" else s":${kind(i)}"
        sample(s"op_ms$k", e - s)
        sample(s"op_cpu_ms$k", Host.threadCpuMsSince(c0))
        // wall minus this op's share of steal: the box's steal ticks
        // spread over its CPUs (an estimate; see README)
        sample(s"op_less_steal_ms$k", e - s - (Host.ticks()._1 - steal0) *
          Host.TickMs / Runtime.getRuntime.availableProcessors())
        val p = System.nanoTime()
        afterOp.foreach(_())
        paused += System.nanoTime() - p
      } catch {
        case NonFatal(ex) =>
          failed += 1
          System.err.println(s"op $i failed: $ex")
      }
      afterOp.clear()
      i += 1
    }
    val wallS = (System.nanoTime() - start) / 1e9
    measureS = wallS - paused / 1e9
    Host.log(s"loop ${measureS}s, $attempted ops")
    gcMs = Host.gcMs() - gc0
    jitMs = Host.jitMs() - jit0
    val (st, co) = Host.contention(host0, Host.ticks(), wallS)
    stealS = st
    cotenantCpus = co
  }
}

trait Workload {
  def run(c: Ctx): Unit
}

object Main {
  val Workloads: Map[String, Workload] = Map(
    "serve_gold" -> ServeGold,
    "mor_dml" -> MorDml,
    "corpus_ingest" -> CorpusIngest)

  def main(argv: Array[String]): Unit = {
    val args = argv.grouped(2).collect {
      case Array(k, v) if k.startsWith("--") => k.drop(2) -> v
    }.toMap
    val w = Workloads(args("workload"))
    val spark = graft.GraftSession.getOrCreate("perfbench")
    val c = new Ctx(spark, new Tracer(spark.sparkContext,
      args.get("trace").contains("1")), args)
    // the process's CPU time so far: JVM start and session build
    c.sessionCpuMs = Host.cpuMs()
    Host.log("session ready")
    try {
      w.run(c)
    } catch {
      case NonFatal(e) =>
        e.printStackTrace()
        c.check("workload_completed", ok = false, e.toString)
    }
    Host.log("checks done")
    val (spans, jobs) = c.tracer.export()
    val out = mutable.LinkedHashMap[String, Any](
      "workload" -> args("workload"),
      "seed" -> args.getOrElse("seed", ""),
      "session_cpu_ms" -> c.sessionCpuMs,
      "fixture_cpu_ms" -> c.fixtureCpuMs.toSeq,
      "warmup_cpu_ms" -> c.warmupCpuMs,
      "attempted" -> c.attempted,
      "failed" -> c.failed,
      "measure_s" -> c.measureS,
      "gc_ms" -> c.gcMs,
      "jit_ms" -> c.jitMs,
      "peak_rss_mb" -> Host.peakRssMb(),
      "nproc" -> Runtime.getRuntime.availableProcessors(),
      "steal_s" -> c.stealS,
      "cotenant_cpus" -> c.cotenantCpus,
      "samples" -> c.samples.map { case (k, v) => k -> v.toSeq },
      "window_samples" -> c.windowSamples.map { case (k, v) => k -> v.toSeq },
      "counters" -> c.counters,
      "checks" -> c.checks.map { case (n, ok, d) =>
        Map("name" -> n, "ok" -> ok, "detail" -> d) },
      "ops" -> (if (c.tracer.enabled) c.ops.map(p => Seq(p._1, p._2)) else Seq()),
      "spans" -> spans.map(s => Map("name" -> s.name, "start" -> s.startMs,
        "end" -> s.endMs, "extra" -> s.extra)),
      "jobs" -> jobs.map(j => Map("span" -> j.span, "start" -> j.startMs,
        "end" -> j.endMs, "tasks" -> j.tasks, "cpu_ns" -> j.cpuNs,
        "in_bytes" -> j.inBytes, "shuffle_bytes" -> j.shuffleBytes,
        "out_bytes" -> j.outBytes, "spill_bytes" -> j.spillBytes)))
    Json.write(Paths.get(args("out")), out)
    spark.stop()
    Host.log("stopped")
  }
}

/** Host and JVM stamps. The /proc/stat arithmetic follows graft.Bench:
  * steal ticks, and busy ticks of the box minus this process's ticks
  * as co-tenant CPU. They are metadata: no sample is ever dropped or
  * re-run because of them. */
object Host {
  private val Hz = 100.0
  val TickMs = 1000.0 / Hz

  /** A progress line with the JVM's uptime, to the run's log. */
  def log(msg: String): Unit = System.err.println(
    f"perfbench ${ManagementFactory.getRuntimeMXBean.getUptime / 1e3}%.1fs $msg")

  private def cpuLine(): Array[Long] =
    try Files.readAllLines(Paths.get("/proc/stat")).get(0).trim
      .split("\\s+").drop(1).map(_.toLong)
    catch { case NonFatal(_) => Array.fill(10)(0L) }

  private def selfTicks(): Long =
    try {
      val s = new String(Files.readAllBytes(Paths.get("/proc/self/stat")))
      val rest = s.substring(s.lastIndexOf(')') + 2).split("\\s+")
      rest(11).toLong + rest(12).toLong
    } catch { case NonFatal(_) => 0L }

  /** (steal, busy, self) ticks. */
  def ticks(): (Long, Long, Long) = {
    val c = cpuLine()
    (c(7), c(0) + c(1) + c(2) + c(5) + c(6), selfTicks())
  }

  /** Steal seconds and mean co-tenant CPUs between two `ticks()`. */
  def contention(a: (Long, Long, Long), b: (Long, Long, Long),
      wallS: Double): (Double, Double) = {
    val steal = (b._1 - a._1) / Hz
    val other = ((b._2 - a._2) - (b._3 - a._3)) / Hz
    (steal, if (wallS > 0) math.max(0.0, other / wallS) else 0.0)
  }

  /** CPU time of each live Java thread (driver, executor task and
    * Spark's own threads; the JIT compiler and GC threads are not Java
    * threads), by thread id, in ns. */
  def threadCpu(): Map[Long, Long] = {
    val tb = ManagementFactory.getThreadMXBean
    tb.getAllThreadIds.map(id => id -> tb.getThreadCpuTime(id))
      .filter(_._2 >= 0).toMap
  }

  /** CPU ms the Java threads spent since the `threadCpu()` snapshot
    * `from`; a thread that ended in between is not counted. */
  def threadCpuMsSince(from: Map[Long, Long]): Double =
    threadCpu().map { case (id, ns) => ns - from.getOrElse(id, 0L) }.sum / 1e6

  /** CPU time of this process so far, in ms. */
  def cpuMs(): Double = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]
    .getProcessCpuTime / 1e6

  /** Time the JIT compiler threads spent compiling so far. */
  def jitMs(): Double =
    ManagementFactory.getCompilationMXBean.getTotalCompilationTime.toDouble

  def gcMs(): Double = ManagementFactory.getGarbageCollectorMXBeans.asScala
    .map(_.getCollectionTime.max(0L)).sum.toDouble

  /** Peak resident set of this process (VmHWM). */
  def peakRssMb(): Double =
    try Files.readAllLines(Paths.get("/proc/self/status")).asScala
      .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toDouble / 1024)
      .getOrElse(0.0)
    catch { case NonFatal(_) => 0.0 }

  /** Bytes of every regular file under `dir`. */
  def dirBytes(dir: String): Long = {
    val p = Paths.get(dir)
    if (!Files.exists(p)) 0L
    else {
      val st = Files.walk(p)
      try st.iterator().asScala.filter(Files.isRegularFile(_))
        .map(Files.size).sum
      finally st.close()
    }
  }
}

object Json {
  private val mapper = {
    val m = new com.fasterxml.jackson.databind.ObjectMapper()
    m.registerModule(com.fasterxml.jackson.module.scala.DefaultScalaModule)
    m
  }
  def write(path: java.nio.file.Path, v: Any): Unit =
    Files.write(path, mapper.writeValueAsBytes(v))
  def readMap(path: String): Map[String, String] = {
    val n = mapper.readTree(Files.readAllBytes(Paths.get(path)))
    n.properties().asScala.map(e => e.getKey -> e.getValue.asText()).toMap
  }
  def readStrings(path: String): Seq[String] =
    mapper.readTree(Files.readAllBytes(Paths.get(path))).elements().asScala
      .map(_.asText()).toSeq
  def readOps(path: String): Seq[Map[String, String]] = {
    val n = mapper.readTree(Files.readAllBytes(Paths.get(path)))
    n.elements().asScala.map(o => o.properties().asScala
      .map(e => e.getKey -> e.getValue.asText()).toMap).toSeq
  }
}
