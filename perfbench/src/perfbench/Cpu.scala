package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._
import scala.util.Try

/** CPU time this JVM spends, in seconds.
  *
  * `total` is every thread since the JVM started. `engine` leaves out the
  * JIT's threads (the compilers and the code-cache sweeper): compiling
  * is warm-up work, so it stays in the set-up figures (which use `total`)
  * and out of the per-pass ones, where it would otherwise be most of
  * the run-to-run spread (the compilers still use ~10 CPU seconds during
  * a measured curation_versions pass). The JVM runs with a fixed set of
  * compiler threads (-XX:-UseDynamicNumberOfCompilerThreads), so their
  * CPU time is never lost with an exited thread.
  *
  * Neither counts time the hypervisor gave to other guests while a vCPU
  * had work (steal): on a shared host that time moves wall-clock figures
  * by up to 2x from one minute to the next, CPU time far less. */
object Cpu {
  private val os = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]
  private val ticksPerSecond = 100.0

  /** `stat` files of the JIT's threads (empty where /proc is not). */
  private val jitStats: Seq[Path] = {
    val tasks = Paths.get("/proc/self/task")
    if (!Files.isDirectory(tasks)) Nil
    else Files.list(tasks).iterator().asScala.toSeq.filter { t =>
      Try(new String(Files.readAllBytes(t.resolve("comm"))).trim).toOption.exists(n => n.contains("CompilerThre") || n == "Sweeper thread")
    }.map(_.resolve("stat"))
  }

  def total: Double = os.getProcessCpuTime / 1e9

  /** utime + stime of the JIT's threads; fields 14 and 15 of `stat`,
    * counted after the parenthesised thread name. */
  def jit: Double = jitStats.map { p =>
    Try {
      val s = new String(Files.readAllBytes(p))
      val f = s.substring(s.lastIndexOf(')') + 2).split(' ')
      f(11).toLong + f(12).toLong
    }.getOrElse(0L)
  }.sum / ticksPerSecond

  def engine: Double = total - jit

  def jitThreads: Int = jitStats.size

  /** CPU seconds of every live thread, summed by thread name with digits
    * dropped (so pools group together). */
  def byThreadName: Map[String, Double] = {
    val tasks = Paths.get("/proc/self/task")
    if (!Files.isDirectory(tasks)) Map.empty
    else Files.list(tasks).iterator().asScala.toSeq.flatMap { t =>
      Try {
        val s = new String(Files.readAllBytes(t.resolve("stat")))
        val name = s.substring(s.indexOf('(') + 1, s.lastIndexOf(')')).replaceAll("[0-9]+", "#")
        val f = s.substring(s.lastIndexOf(')') + 2).split(' ')
        name -> (f(11).toLong + f(12).toLong) / ticksPerSecond
      }.toOption
    }.groupMapReduce(_._1)(_._2)(_ + _)
  }
}

