package perfbench

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.SparkSession

/** One benchmark run's context: the session, a scratch directory
  * inside the checkout, the tracer, and the operation log the
  * end-to-end figures come from.
  *
  * Every operation goes through [[op]]: it is timed, wrapped in a span
  * named `layer.operation`, and its result is checked against the
  * generator's ground truth outside the timed interval. A failed check
  * or an exception counts the operation as failed.
  */
final class Run(val spark: SparkSession, val work: java.nio.file.Path,
                val seed: Long, val tracer: Tracer) {
  import Run.Op
  val ops = ArrayBuffer.empty[Op]
  var attempted = 0L
  var failed = 0L
  val failures = ArrayBuffer.empty[String]
  /** Figures a workload measures itself, by name: `counts` add up
    * over measured units (reported per unit), `gauges` are ratios. */
  val counts = scala.collection.mutable.LinkedHashMap.empty[String, Double]
  val gauges = scala.collection.mutable.LinkedHashMap.empty[String, Double]
  def count(name: String, v: Double): Unit =
    if (measuring) counts(name) = counts.getOrElse(name, 0.0) + v
  /** Whether ops count toward the end-to-end figures (false in warm-up). */
  var measuring = false

  def dir(name: String): String = work.resolve(name).toString

  /** Time `body` as one operation of `kind` ("request" or "append"). */
  def op[A](kind: String, span: String)(body: => A)(check: A => Seq[String]): A = {
    val t0 = System.nanoTime()
    val result = tracer.span(span)(body)
    val ms = (System.nanoTime() - t0) / 1e6
    tracer.checkPins()
    val problems = check(result)
    record(kind, span, ms, problems)
    result
  }

  /** A correctness check that is not tied to one timed operation. */
  def verify(name: String)(problems: => Seq[String]): Unit =
    record("check", name, 0.0, problems)

  private def record(kind: String, name: String, ms: Double,
                     problems: Seq[String]): Unit = {
    attempted += 1
    if (problems.nonEmpty) {
      failed += 1
      failures ++= problems.take(3).map(p => s"$name: $p")
    }
    if (measuring && kind != "check") ops += Op(kind, name, ms)
    if (!measuring) System.err.println(f"[perfbench] set-up $kind $name $ms%.1f ms")
  }

  def durations(kind: String): Seq[Double] = ops.filter(_.kind == kind).map(_.ms).toSeq
}

object Run {
  final case class Op(kind: String, name: String, ms: Double)
}

/** Host-side readings taken from outside the engine. */
object Host {
  /** A fixed CPU probe: SHA-256 over a fixed 2 MiB buffer, 8 times.
    * Timed at the start and end of every run, it shows host drift in
    * the record instead of leaving it to be guessed. */
  def calibrationMs(): Double = {
    val buf = Array.tabulate[Byte](2 << 20)(i => (i * 31).toByte)
    def once(): Double = {
      val t0 = System.nanoTime()
      val md = java.security.MessageDigest.getInstance("SHA-256")
      for (_ <- 0 until 8) md.update(buf)
      md.digest()
      (System.nanoTime() - t0) / 1e6
    }
    Metrics.median((0 until 5).map(_ => once()))
  }

  /** Peak resident set of this JVM (VmHWM), in MB. */
  def peakRssMb(): Double = {
    val status = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get("/proc/self/status")))
    status.linesIterator.find(_.startsWith("VmHWM:"))
      .map(_.replaceAll("[^0-9]", "").toDouble / 1024.0)
      .getOrElse(Runtime.getRuntime.totalMemory() / 1048576.0)
  }

  def treeBytes(p: String): Long = {
    val root = java.nio.file.Paths.get(p)
    if (!java.nio.file.Files.exists(root)) 0L else {
      val s = java.nio.file.Files.walk(root)
      try {
        import scala.jdk.CollectionConverters._
        s.iterator().asScala.filter(java.nio.file.Files.isRegularFile(_))
          .map(java.nio.file.Files.size).sum
      } finally s.close()
    }
  }

  def deleteTree(p: java.nio.file.Path): Unit = if (java.nio.file.Files.exists(p)) {
    val s = java.nio.file.Files.walk(p)
    try {
      import scala.jdk.CollectionConverters._
      s.iterator().asScala.toSeq.reverse.foreach(java.nio.file.Files.deleteIfExists)
    } finally s.close()
  }
}
