package perfbench

import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

/** One workload run in one JVM: set up, warm up, measure passes for the
  * given seconds, then write everything measured as JSON for `run.py`.
  *
  * Usage: perfbench.Main --workload <name> --seed <n> --seconds <s>
  *   --trace <0|1> --work <scratch dir> --out <result.json>
  *   [--size bench|tiny]
  *
  * A measured pass starts only while it is expected to end within the
  * budget (judged by the previous pass), but at least one runs.
  *
  * Set-up is JVM start to session ready, plus the median of three input
  * generations, plus the warm-up (every call of a pass once, see
  * Workload.warmUp, then `settle`); each part is recorded as wall and
  * CPU time (Cpu).
  * Passes and ops record wall time and Cpu.engine time. With --trace 1
  * the measured time is split in three: untraced passes, traced passes
  * (spans and listener counters on), untraced passes again; then the
  * trace-only layer probes. */
object Main {
  def main(args: Array[String]): Unit = {
    val o = args.grouped(2).map(a => a(0).stripPrefix("--") -> a(1)).toMap
    val (workload, seed, seconds) = (o("workload"), o("seed").toLong, o("seconds").toDouble)
    val traced = o("trace") == "1"
    val work = o("work")
    val jvmStart = ManagementFactory.getRuntimeMXBean.getStartTime
    val spark = graft.BenchSession.build()
    val sessionS = (System.currentTimeMillis() - jvmStart) / 1e3
    val sessionCpu = Cpu.total

    val wl = Workload(workload, spark, work, seed, o.getOrElse("size", "bench") == "tiny")
    val (genS, genCpu) = (1 to 3).map(i => timedCpu(wl.generate(s"$work/input$i"))).unzip
    val runner = new Runner(spark, None)
    val passes = scala.collection.mutable.ArrayBuffer.empty[(Int, Double, Boolean, Double, Map[String, Double])]
    def runPass(p: Int, isTraced: Boolean): Double = {
      runner.pass = p
      val threads0 = Cpu.byThreadName
      val cpu0 = Cpu.engine
      val s = timed(runner.span("pass")(wl.pass(runner)))
      val cpu = Cpu.engine - cpu0
      val threads = Cpu.byThreadName.map { case (n, c) => n -> (c - threads0.getOrElse(n, 0.0)) }
      passes += ((p, s, isTraced, cpu, threads.filter(_._2 >= 0.05)))
      s
    }
    runner.pass = -1
    val (warmS, warmCpu) = timedCpu(wl.warmUp(runner))
    val (settleS, settleCpu) = timedCpu(settle())

    val heap = new LiveHeap
    def measure(budget: Double, isTraced: Boolean): Unit = {
      val t0 = System.nanoTime()
      var n, last = 0.0
      def elapsed = (System.nanoTime() - t0) / 1e9
      while (n < 1 || elapsed + last <= budget) {
        last = runPass(passes.count(_._1 > 0) + 1, isTraced); n += 1
      }
    }
    val tracer = if (traced) Some(new Tracer(spark)) else None
    measure(if (traced) seconds / 3 else seconds, isTraced = false)
    tracer.foreach { t =>
      runner.tracer = Some(t)
      measure(seconds / 3, isTraced = true)
      // untraced again, so traced minus untraced is not just warm-up drift
      runner.tracer = None
      measure(seconds / 3, isTraced = false)
      runner.tracer = Some(t)
      runner.pass = 0
      wl.probes(runner)
      t.drain()
    }
    val heapMb = heap.stop()
    wl.prepareOracle()

    val result = Map(
      "workload" -> workload, "seed" -> seed, "cores" -> spark.sparkContext.defaultParallelism,
      "trace" -> traced, "records" -> wl.records,
      "setup" -> Map("session_s" -> sessionS, "gen_s" -> genS, "warmup_s" -> warmS,
        "session_cpu_s" -> sessionCpu, "gen_cpu_s" -> genCpu, "warmup_cpu_s" -> warmCpu,
        "settle_s" -> settleS, "settle_cpu_s" -> settleCpu),
      "jit_threads" -> Cpu.jitThreads,
      "main_s" -> (System.currentTimeMillis() - jvmStart) / 1e3,
      "heap_peak_mb" -> heapMb,
      "passes" -> passes.map { case (p, s, t, c, th) =>
        Map("pass" -> p, "seconds" -> s, "traced" -> t, "cpu_s" -> c, "thread_cpu_s" -> th)
      },
      "ops" -> runner.results.map { r =>
        Map("pass" -> r.pass, "name" -> r.name, "span" -> r.span, "kind" -> r.kind,
          "seconds" -> r.seconds, "cpu_s" -> r.cpu, "rows" -> r.rows, "digest" -> r.digest,
          "oracle" -> (r.check match { case Oracle(sql) => sql; case Indirect => null }),
          "extra" -> r.extra, "error" -> r.error.orNull)
      },
      "oracle_views" -> wl.oracleViews,
      "spans" -> tracer.map(_.export).getOrElse(Nil))
    Files.write(Paths.get(o("out")),
      org.json4s.jackson.Serialization.write(result)(org.json4s.DefaultFormats).getBytes(StandardCharsets.UTF_8))
    tracer.foreach(_.close())
    spark.stop()
  }

  private def timed(body: => Unit): Double = {
    val t0 = System.nanoTime(); body; (System.nanoTime() - t0) / 1e9
  }

  /** Ends the set-up in the same state in every run: a full collection,
    * then a wait until the JIT's threads are idle (no CPU tick in two
    * 200 ms polls in a row; at most 15 s), so the measured passes do not
    * start at whatever point the compile queue had reached. */
  private def settle(): Unit = {
    System.gc()
    val deadline = System.nanoTime() + 15000000000L
    var (last, idle) = (Cpu.jit, 0)
    while (idle < 2 && System.nanoTime() < deadline) {
      Thread.sleep(200)
      val now = Cpu.jit
      idle = if (now == last) idle + 1 else 0
      last = now
    }
  }

  /** Wall seconds and CPU seconds (all threads, JIT included). */
  private def timedCpu(body: => Unit): (Double, Double) = {
    val c0 = Cpu.total; val s = timed(body); (s, Cpu.total - c0)
  }
}

/** Peak live heap while measuring: the heap used after each collection,
  * from the GC notifications, in MB (the used heap when no collection
  * ran). */
final class LiveHeap {
  import com.sun.management.GarbageCollectionNotificationInfo
  import javax.management.{Notification, NotificationEmitter, NotificationListener}
  import javax.management.openmbean.CompositeData

  private val heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala
    .filter(_.getType == java.lang.management.MemoryType.HEAP).map(_.getName).toSet
  @volatile private var peakLive = 0L
  private val onGc: NotificationListener = (n: Notification, _: Any) =>
    if (n.getType == GarbageCollectionNotificationInfo.GARBAGE_COLLECTION_NOTIFICATION) {
      val after = GarbageCollectionNotificationInfo.from(n.getUserData.asInstanceOf[CompositeData])
        .getGcInfo.getMemoryUsageAfterGc.asScala
      peakLive = math.max(peakLive, after.collect { case (p, u) if heapPools(p) => u.getUsed }.sum)
    }
  private val emitters = ManagementFactory.getGarbageCollectorMXBeans.asScala.collect {
    case e: NotificationEmitter => e.addNotificationListener(onGc, null, null); e
  }

  def stop(): Double = {
    emitters.foreach(_.removeNotificationListener(onGc))
    val peak = if (peakLive > 0) peakLive else ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed
    peak / 1048576.0
  }
}
