package graftbench

import java.nio.file.{Files, Paths}

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.{ObjectMapper, PropertyNamingStrategies}
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.spark.sql.SparkSession

import graft.GraftSession

/** One operation of the plan `run.py` draws from the seed. `phase` is
  * `W` (warm-up, part of set-up) or `T` (timed). */
final case class Op(idx: Int, phase: String, kind: String,
                    args: Map[String, String]) {
  def ids(k: String): Seq[Long] =
    args.get(k).filter(_.nonEmpty).map(_.split(',').toSeq.map(_.toLong)).getOrElse(Nil)
}

/** What one timed operation did: wall seconds, whether it threw, the
  * outcome of its correctness check (empty when it passed) and
  * per-kind readouts (recall, file counts, planning phases, ...). */
final case class OpResult(op: Op, traced: Boolean, seconds: Double,
                          error: String, check: String,
                          extra: Map[String, Double])

trait Workload {
  /** Warm-up operations, run once after the last set-up. */
  val warmups = ArrayBuffer[OpResult]()
  /** Workload state set-up (index builds); named part timings in seconds. */
  def prepare(spark: SparkSession, tr: Tracer): Seq[(String, Double)]
  /** Runs the warm-up operations (JIT, code generation, per-JVM fits). */
  def warmup(spark: SparkSession, tr: Tracer): Unit
  def run(spark: SparkSession, op: Op, tr: Tracer): OpResult
  /** Untimed checks after the timed windows: (check name, error) for
    * each failed check, and named end-of-run readouts. */
  def finish(spark: SparkSession, tr: Tracer): (Seq[(String, String)], Map[String, Double])
}

/** Closed-loop, single-client benchmark driver. Set-up builds the
  * session with GraftSession several times (the last serves the run),
  * then the workload's state, then warms up. The timed window runs
  * untraced and, when tracing, a traced window follows; then results
  * are checked and one JSON document is written for `run.py`.
  *
  *   java ... graftbench.Driver <conf.properties>
  */
object Driver {
  private def readConf(path: String): Map[String, String] = {
    val p = new java.util.Properties()
    val in = Files.newInputStream(Paths.get(path))
    try p.load(in) finally in.close()
    p.asScala.toMap
  }

  private def readPlan(path: String): Seq[Op] =
    Files.readAllLines(Paths.get(path)).asScala.toSeq.filter(_.nonEmpty)
      .zipWithIndex.map { case (line, i) =>
        val f = line.split('\t')
        Op(i, f(0), f(1), f.drop(2).map { kv =>
          val e = kv.indexOf('='); kv.take(e) -> kv.drop(e + 1)
        }.toMap)
      }

  def loadavg: String =
    try new String(Files.readAllBytes(Paths.get("/proc/loadavg"))).trim
      .split("\\s+").take(3).mkString(" ")
    catch { case _: Throwable => "n/a" }

  private def statFields: Array[Long] =
    try Files.readAllLines(Paths.get("/proc/stat")).get(0)
      .trim.split("\\s+").drop(1).map(_.toLong)
    catch { case _: Throwable => Array.empty }

  /** (busy, total) jiffies from /proc/stat; idle and iowait are not busy. */
  private def cpuJiffies: (Long, Long) = {
    val f = statFields
    if (f.length < 5) (-1L, -1L) else (f.sum - f(3) - f(4), f.sum)
  }

  /** (steal, non-idle) jiffies from /proc/stat. */
  private def stealAndBusy: (Long, Long) = {
    val f = statFields
    if (f.length < 8) (0L, 0L) else (f(7), f.sum - f(3) - f(4))
  }

  /** Steal / non-idle time between two readings: the share of the time
    * our runnable CPUs spent waiting for the hypervisor. */
  private def stealFrac(a: (Long, Long), b: (Long, Long)): Double =
    if (b._2 > a._2) (b._1 - a._1).toDouble / (b._2 - a._2) else 0.0

  /** CPU ticks this JVM has used (utime + stime, /proc/self/stat). */
  private def ownTicks: Long =
    try {
      val st = new String(Files.readAllBytes(Paths.get("/proc/self/stat")))
      val f = st.substring(st.lastIndexOf(')') + 2).split(' ')
      f(11).toLong + f(12).toLong
    } catch { case _: Throwable => 0L }

  /** Busy fraction of the whole machine over `ms` that is not this JVM,
    * sampled between operations (the /proc/stat method of graft.Bench,
    * minus our own background threads): outside load. */
  def externalBusy(ms: Int): Double = {
    val (b0, t0) = cpuJiffies
    val o0 = ownTicks
    if (t0 < 0) return -1.0
    Thread.sleep(ms.toLong)
    val (b1, t1) = cpuJiffies
    val o1 = ownTicks
    if (t1 <= t0) 0.0 else math.max(0L, b1 - b0 - (o1 - o0)).toDouble / (t1 - t0)
  }

  private def statusKb(field: String): Long =
    try Files.readAllLines(Paths.get("/proc/self/status")).asScala
      .find(_.startsWith(field + ":")).map(_.split("\\s+")(1).toLong).getOrElse(-1L)
    catch { case _: Throwable => -1L }

  def main(args: Array[String]): Unit = {
    val conf = readConf(args(0))
    val plan = readPlan(conf("plan"))
    val seconds = conf("seconds").toDouble
    val cpus = conf("cpus")
    val data = conf("data")
    val work = conf("work")
    val jvmStartMs = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime
    val mainMs = System.currentTimeMillis()
    // steal over set-up counts from just before the JVM was launched
    val setupSteal0 = conf("stat0").split(',').map(_.toLong) match { case Array(s, b) => (s, b) }
    val loadBefore = loadavg
    val tr = new Tracer
    val tracing = conf("trace") == "1"
    // a traced run traces set-up and the traced window, not the untraced one
    if (tracing) tr.enable()
    val wl: Workload = conf("workload") match {
      case "tpch" | "curation" => new QueryWorkload(data, work, plan.filter(_.phase == "W"))
      case "index_churn" => new ChurnWorkload(data, work, plan.filter(_.phase == "W"),
        conf("recall_floor").toDouble)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }

    // set-up: the session build repeats (a fresh session each time, the
    // last one serves the run); workload state and warm-up happen once
    var spark: SparkSession = null
    val sessionBuilds = (1 to conf("setup_reps").toInt).map { _ =>
      if (spark != null) spark.stop()
      val t0 = System.nanoTime()
      spark = tr("GraftSession.build", -1)(GraftSession.build(cpus))
      (System.nanoTime() - t0) / 1e9
    }
    spark.sparkContext.setLogLevel("ERROR")
    tr.attach(spark.sparkContext)
    val prepared = wl.prepare(spark, tr)
    wl.warmup(spark, tr)
    // the warm-up calls themselves, without the benchmark's own checks
    val warmupS = wl.warmups.map(_.seconds).sum
    val setupSteal1 = stealAndBusy

    val timed = plan.filter(_.phase == "T")
    val ext = ArrayBuffer[Double]()
    def window(ops: Iterator[Op], budget: Double): Seq[OpResult] = {
      // start from a collected heap, as every block after the first does
      System.gc()
      val out = ArrayBuffer[OpResult]()
      var sum = 0.0
      var sinceSample = Double.MaxValue
      var done = false
      val it = ops.buffered
      while (!done && it.hasNext) {
        if (sinceSample >= 2.0) { ext += externalBusy(50); sinceSample = 0.0 }
        val op = it.next()
        val before = stealAndBusy
        val r0 = wl.run(spark, op, tr)
        val r = r0.copy(extra = r0.extra + ("steal_frac" -> stealFrac(before, stealAndBusy)))
        out += r
        sum += r.seconds
        sinceSample += r.seconds
        // stop only at the end of a block (a query pass, or a churn
        // block), so every window runs the same operation mix
        if (it.headOption.forall(_.args("block") != op.args("block"))) {
          done = sum >= budget
          // collect between blocks, outside the timed region, so every
          // block starts from a comparable heap
          System.gc()
        }
      }
      out.toSeq
    }
    tr.disable()
    val windowSteal0 = stealAndBusy
    val untraced = window(timed.iterator, seconds)
    val windowSteal = stealFrac(windowSteal0, stealAndBusy)
    val traced =
      if (tracing) {
        tr.enable()
        // query workloads replay exactly the untraced ops; the churn
        // workload's state moved on, so it continues its plan
        if (conf("workload") == "index_churn") window(timed.drop(untraced.size).iterator, seconds)
        else window(untraced.map(_.op).iterator, Double.MaxValue)
      } else Nil
    val peakRssKb = statusKb("VmHWM")
    val finishStart = System.nanoTime()
    val (checks, summary) = wl.finish(spark, tr)
    val finishS = (System.nanoTime() - finishStart) / 1e9
    val counts = tr.drained()
    val loadAfter = loadavg

    // the result document run.py reads; case classes serialize with
    // snake_case field names
    val startMs = System.currentTimeMillis() - System.nanoTime() / 1e6
    def opDoc(r: OpResult): Map[String, Any] = Map("idx" -> r.op.idx, "kind" -> r.op.kind,
      "key" -> r.op.args.getOrElse("key", ""), "traced" -> r.traced, "s" -> r.seconds,
      "error" -> r.error, "check" -> r.check) ++ r.extra
    val doc = counts.synchronized {
      Map(
        "workload" -> conf("workload"), "cpus" -> cpus.toInt,
        "master" -> spark.sparkContext.master, "spark_version" -> spark.version,
        "heap_max_mb" -> Runtime.getRuntime.maxMemory / (1 << 20),
        "jvm_to_main_s" -> (mainMs - jvmStartMs) / 1e3, "session_builds_s" -> sessionBuilds,
        "warmup_s" -> warmupS, "finish_s" -> finishS,
        "setup_steal_frac" -> stealFrac(setupSteal0, setupSteal1),
        "loadavg_before" -> loadBefore, "loadavg_after" -> loadAfter,
        "peak_rss_kb" -> peakRssKb, "external_busy" -> ext.toSeq,
        "steal_frac" -> windowSteal,
        "warmups" -> wl.warmups.toSeq.map(opDoc), "ops" -> (untraced ++ traced).map(opDoc),
        "checks" -> checks.map { case (k, v) => Map("name" -> k, "error" -> v) },
        "spans" -> tr.spans.toSeq.map(sp => Map("id" -> sp.id, "name" -> sp.name,
          "parent" -> sp.parent, "op" -> sp.op, "start_ms" -> (startMs + sp.startNs / 1e6),
          "end_ms" -> (startMs + sp.endNs / 1e6))),
        "jobs" -> counts.jobs.values.toSeq, "stages" -> counts.stages.toSeq
      ) ++ summary ++ prepared.map { case (k, v) => s"${k}_s" -> v }
    }
    spark.stop()
    val mapper = new ObjectMapper().registerModule(DefaultScalaModule)
      .setPropertyNamingStrategy(PropertyNamingStrategies.SNAKE_CASE)
    Files.writeString(Paths.get(conf("out")), mapper.writeValueAsString(doc))
  }
}
