package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import org.apache.spark.sql.SparkSession

import graft.{GraftExtensions, GraftSession}

/** The benchmark JVM: sets up a session, checks one call's results, then
  * times passes of the workload's calls for the given number of seconds.
  * Writes one JSON record of raw measurements; `run.py` turns it into
  * metrics.
  *
  * Usage: perfbench.Main --workload W --seed N --seconds S --trace 0|1
  *          --cores K --work DIR [--tables DIR] --out FILE
  */
object Main {
  final case class Opts(workload: String, seed: Long, seconds: Double, trace: Boolean,
      cores: Int, work: String, tables: String, out: String)

  private def parse(args: Array[String]): Opts = {
    val m = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def need(k: String) = m.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    Opts(need("workload"), need("seed").toLong, need("seconds").toDouble,
      need("trace") == "1", need("cores").toInt,
      need("work"), m.getOrElse("tables", ""), need("out"))
  }

  /** The shipped session configuration on local[k], as `graft.Bench`
    * builds it, with Spark's scratch space inside the work directory. */
  def session(o: Opts): SparkSession = {
    val s = GraftSession.defaults(SparkSession.builder()
      .master(s"local[${o.cores}]")
      .config("spark.sql.shuffle.partitions", o.cores.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"${o.work}/spark-local")
      .config("spark.sql.warehouse.dir", s"${o.work}/warehouse"))
      .withExtensions(new GraftExtensions)
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  private def secs(t0: Long): Double = (System.nanoTime() - t0) / 1e9
  private def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  /** Runs `body`, then unpersists the RDDs it left persisted; returns how
    * many there were, so one call's blocks do not weigh on the next. */
  def hygiene(spark: SparkSession, body: () => Unit): Int = {
    val before = spark.sparkContext.getPersistentRDDs.keySet
    var n = 0
    try body()
    finally {
      val leaked = spark.sparkContext.getPersistentRDDs.filter { case (id, _) => !before.contains(id) }
      leaked.values.foreach(_.unpersist(blocking = true))
      n = leaked.size
    }
    n
  }

  def main(args: Array[String]): Unit = {
    val o = parse(args)
    val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime.toDouble
    val clock = new Clock
    val rec = mutable.LinkedHashMap.empty[String, Any]
    rec("workload") = o.workload
    rec("seed") = o.seed
    rec("cores") = o.cores
    rec("heap_mb") = Runtime.getRuntime.maxMemory / (1024 * 1024)
    val wl = Workload(o.workload, o.seed, o.work, o.tables)

    // set-up, once, cold: start the session, open the input (made before
    // the JVM started) and count the rows of each of its partitions. Timed
    // from the start of the JVM, as a user pays it.
    val spark = session(o)
    rec("session_start_s") = (clock.nowMs() - jvmStartMs) / 1000.0
    wl.open(spark)
    val (parts, minRows) = wl.layout(spark)
    rec("setup_s") = (clock.nowMs() - jvmStartMs) / 1000.0
    val marks = mutable.LinkedHashMap.empty[String, Double]
    def mark(what: String): Unit = marks(what) = (clock.nowMs() - jvmStartMs) / 1000.0
    mark("setup")
    rec("input") = mutable.LinkedHashMap[String, Any](
      "partitions" -> parts, "rows_per_partition_min" -> minRows,
      "rows" -> wl.inputRows(spark), "dims" -> wl.dims, "cells" -> wl.cells)
    val errors = mutable.ArrayBuffer.empty[String]
    if (minRows <= 0) errors += s"input layout: an input partition of $parts is empty"

    // untimed passes, so the JIT has compiled the hot paths
    (1 to wl.warmupPasses).foreach { wu =>
      wl.pass(-wu).foreach { case (_, body) =>
        // a failing call is reported by the check and the window
        hygiene(spark, () => try body(spark, Phase.Plain) catch { case NonFatal(_) => 0L })
      }
    }
    rec("warmup_passes") = wl.warmupPasses
    mark("warmup")

    // untimed correctness checks (for the registry, every query once more,
    // its result written for the oracle comparison)
    val chk = wl.check(spark, hygiene)
    errors ++= chk.errors
    rec("check_attempted") = chk.attempted
    mark("check")

    val tracer = new Tracer(clock)
    if (o.trace) {
      def probe(df: => org.apache.spark.sql.DataFrame): Double = median((1 to 3).map { _ =>
        val t0 = System.nanoTime()
        df.write.format("noop").mode("overwrite").save()
        secs(t0)
      })
      rec("scan_s") = probe(wl.scanned(spark))
      rec("project_s") = probe(wl.projected(spark))
    }

    // the measured window: whole passes until the time is up
    val calls = mutable.ArrayBuffer.empty[mutable.LinkedHashMap[String, Any]]
    val passes = mutable.ArrayBuffer.empty[Double]
    val host0 = Host.sample()
    val w0 = System.nanoTime()
    var pass = 0
    // at least two passes: a traced run traces every call once, and every
    // run has the same mix of first and later passes
    while (secs(w0) < o.seconds || pass < 2) {
      var passS = 0.0
      wl.pass(pass).foreach { case (name, body) =>
        // in a traced run each call is traced every other pass; the
        // untraced ones measure what tracing costs
        val traced = o.trace && (pass + (name.hashCode & 1)) % 2 == 1
        val c = mutable.LinkedHashMap[String, Any]("name" -> name, "pass" -> pass,
          "traced" -> traced, "ops" -> Registry.OpsQueries.contains(name))
        if (traced) tracer.attach(spark)
        var rows = 0L
        var t = 0.0
        val leaked = hygiene(spark, () => {
          val t0 = System.nanoTime()
          try {
            if (traced) {
              val (r, id) = tracer.span(spark, s"call:$name", 0) { callId =>
                body(spark, new Phase {
                  def apply[T](n: String)(b: => T): T = tracer.span(spark, n, callId)(_ => b)._1
                })
              }
              rows = r
              c("span") = id
            } else rows = body(spark, Phase.Plain)
            c("ok") = true
          } catch {
            case NonFatal(e) =>
              c("ok") = false
              errors += s"$name (pass $pass): ${e.toString.replace('\n', ' ')}"
          }
          t = secs(t0)
        })
        if (traced) {
          tracer.detach(spark)
          c("bhj") = tracer.bhj
          c("smj") = tracer.smj
        }
        c("wall_s") = t
        passS += t
        c("rows") = rows
        c("leaked_rdds") = leaked
        calls += c
      }
      passes += passS
      pass += 1
    }
    rec("window_s") = secs(w0)
    mark("window")
    rec("marks") = marks
    rec("host") = Host.delta(host0, Host.sample())
    rec("calls") = calls
    rec("passes") = passes
    rec("errors") = errors
    val gc = ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum
    rec("gc_s") = gc / 1000.0
    rec("jit_s") = ManagementFactory.getCompilationMXBean.getTotalCompilationTime / 1000.0
    rec("vmhwm_mb") = Host.vmHwmMb()
    if (o.trace) {
      rec("spans") = tracer.spans.map(s => Seq(s.id, s.parent, s.name, s.startMs, s.endMs))
      rec("stages") = tracer.stages.values.map(r => mutable.LinkedHashMap[String, Any](
        "id" -> r.id, "job_span" -> r.jobSpan, "submit_ms" -> r.submitMs,
        "complete_ms" -> r.completeMs, "tasks" -> r.tasks, "run_ms" -> r.runMs,
        "cpu_ns" -> r.cpuNs, "shuffle_write_bytes" -> r.shuffleWriteBytes,
        "shuffle_write_records" -> r.shuffleWriteRecords, "spill_bytes" -> r.spillBytes,
        "input_records" -> r.inputRecords, "peak_exec_mem" -> r.peakExecMem))
    }
    Files.writeString(Paths.get(o.out), Json(rec))
    // the record is written; end the JVM without stopping Spark (its
    // scratch space is inside the work directory, which run.py removes)
    Runtime.getRuntime.halt(0)
  }
}

/** Machine counters from /proc, to tell a slow machine from slow code. */
object Host {
  /** Clock ticks per second of /proc/stat and /proc/self/stat. */
  private val Hz = 100.0

  /** (steal ticks, busy ticks of all CPUs, this process's CPU ticks) */
  def sample(): (Long, Long, Long) = try {
    val cpu = Files.readAllLines(Paths.get("/proc/stat")).get(0).trim.split("\\s+").drop(1).map(_.toLong)
    // user nice system idle iowait irq softirq steal
    val busy = cpu(0) + cpu(1) + cpu(2) + cpu(5) + cpu(6)
    val self = Files.readString(Paths.get("/proc/self/stat"))
    val f = self.substring(self.lastIndexOf(')') + 2).split(" ")
    (cpu(7), busy, f(11).toLong + f(12).toLong)
  } catch { case NonFatal(_) => (0L, 0L, 0L) }

  def delta(a: (Long, Long, Long), b: (Long, Long, Long)): Map[String, Double] = Map(
    "steal_s" -> (b._1 - a._1) / Hz,
    "other_busy_s" -> ((b._2 - a._2) - (b._3 - a._3)) / Hz)

  def vmHwmMb(): Double = try {
    Files.readAllLines(Paths.get("/proc/self/status")).asScala
      .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(0.0)
  } catch { case NonFatal(_) => 0.0 }
}
