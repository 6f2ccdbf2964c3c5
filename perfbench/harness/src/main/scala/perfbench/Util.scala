package perfbench

import java.io.File
import java.nio.charset.StandardCharsets
import java.nio.file.Files

object Json {
  private def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  def apply(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => apply(x)
    case s: String => str(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case f: Float => apply(f.toDouble)
    case n: Int => n.toString
    case n: Long => n.toString
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => str(k.toString) + ":" + apply(x) }.mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(apply).mkString("[", ",", "]")
    case other => str(other.toString)
  }

  def write(path: String, v: Any): Unit = {
    val f = new File(path)
    f.getAbsoluteFile.getParentFile.mkdirs()
    Files.write(f.toPath, apply(v).getBytes(StandardCharsets.UTF_8))
  }
}

object Stats {
  /** Linear-interpolated quantile, q in [0, 1]. */
  def quantile(xs: Seq[Double], q: Double): Double = {
    require(xs.nonEmpty, "quantile of no samples")
    val s = xs.sorted
    val pos = q * (s.size - 1)
    val lo = math.floor(pos).toInt
    val hi = math.ceil(pos).toInt
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }

  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)
}

object Loader {
  /** `ConnectServe.withConnection` runs its body under the isolated client
    * classloader; engine calls made inside it must switch back to the
    * application loader, or data-source lookup fails. */
  val app: ClassLoader = getClass.getClassLoader

  def engine[T](f: => T): T = {
    val th = Thread.currentThread()
    val prev = th.getContextClassLoader
    th.setContextClassLoader(app)
    try f finally th.setContextClassLoader(prev)
  }
}

object Clock {
  private val os = java.lang.management.ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]

  /** CPU time used so far by every thread of this JVM, in seconds. */
  def cpuS(): Double = os.getProcessCpuTime / 1e9

  /** Name prefixes (as /proc shows them, cut to 15 characters) of the
    * JVM's own service threads: JIT compilers, code-cache sweeper, garbage
    * collector workers and the VM thread. */
  private val RuntimeThreads = Seq("C1 CompilerThre", "C2 CompilerThre", "Sweeper thread",
    "GC Thread", "G1 ", "VM Thread", "VM Periodic Tas")

  /** CPU time used so far by the JVM's own service threads, in seconds,
    * from each thread's /proc schedstat (Linux; 0 elsewhere). These threads
    * live as long as the JVM (run.py starts it with
    * -XX:-UseDynamicNumberOfCompilerThreads), so differences are exact. */
  def runtimeCpuS(): Double =
    Option(new File("/proc/self/task").listFiles()).toSeq.flatten.map { t =>
      try {
        val comm = new String(Files.readAllBytes(new File(t, "comm").toPath)).trim
        if (!RuntimeThreads.exists(comm.startsWith)) 0.0
        else new String(Files.readAllBytes(new File(t, "schedstat").toPath))
          .trim.split(" ")(0).toLong / 1e9
      } catch { case _: java.io.IOException => 0.0 }
    }.sum

  /** CPU time, in seconds, of this JVM's Java threads: the program's own,
    * Spark's and their libraries'. The JVM's service threads are left out:
    * in a JVM a minute old, JIT compilation and garbage collection take more
    * CPU than the program and vary widely from run to run. */
  def workCpuS(): Double = cpuS() - runtimeCpuS()

  def timed[T](f: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = f
    (r, (System.nanoTime() - t0) / 1e9)
  }
}

object Fs {
  def files(dir: String, suffix: String): Seq[File] = {
    val root = new File(dir)
    if (!root.exists()) Nil
    else {
      val out = Seq.newBuilder[File]
      def walk(f: File): Unit =
        if (f.isDirectory) {
          if (!f.getName.startsWith("_")) Option(f.listFiles()).toSeq.flatten.foreach(walk)
        } else if (f.getName.endsWith(suffix)) out += f
      walk(root)
      out.result()
    }
  }

  /** Resident-set high-water mark of this JVM in MB (Linux). */
  def peakRssMb(): Double = {
    val status = new File("/proc/self/status")
    if (!status.exists()) return -1.0
    val src = scala.io.Source.fromFile(status)
    try src.getLines().find(_.startsWith("VmHWM:"))
      .map(_.replaceAll("[^0-9]", "").toDouble / 1024.0).getOrElse(-1.0)
    finally src.close()
  }
}
