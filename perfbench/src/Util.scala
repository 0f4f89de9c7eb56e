package perfbench

import java.io.{ByteArrayOutputStream, File, PrintStream}

/** Times one closed-loop op, then checks its output outside the timed window. */
trait Recorder {
  def apply[T](kind: String)(body: => T)(check: T => Boolean): T
}

/** An input or a set-up step that does not match what the seed and the
  * committed fingerprints say; the run aborts without a result.
  */
final class InputMismatch(msg: String) extends RuntimeException(msg)

object Util {
  def require(cond: Boolean, msg: => String): Unit = if (!cond) throw new InputMismatch(msg)

  def warn(msg: String): Unit = System.err.println(s"[perfbench] $msg")

  def captureStdout(body: => Int): CliResult = {
    val buf = new ByteArrayOutputStream()
    val code = Console.withOut(new PrintStream(buf, true, "UTF-8"))(body)
    CliResult(code, buf.toString("UTF-8").linesIterator.toSeq)
  }

  /** Copies a directory tree; a missing `from` copies nothing. */
  def copyDir(from: File, to: File): Unit =
    if (from.isDirectory) {
      to.mkdirs()
      from.listFiles().foreach(f => copyDir(f, new File(to, f.getName)))
    } else if (from.exists()) java.nio.file.Files.copy(from.toPath, to.toPath)

  def deleteRecursively(f: File): Unit = {
    Option(f.listFiles()).foreach(_.foreach(deleteRecursively))
    f.delete()
  }

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) Double.NaN
    else if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  /** Nearest-rank percentile. */
  def percentile(xs: Seq[Double], p: Double): Double = {
    val s = xs.sorted
    s(math.max(0, math.ceil(p / 100 * s.size).toInt - 1))
  }

  /** Process resident-set high-water mark, MB. */
  def peakRssMb(): Double =
    scala.io.Source.fromFile("/proc/self/status").getLines()
      .collectFirst { case l if l.startsWith("VmHWM:") => l.split("\\s+")(1).toDouble / 1024 }
      .getOrElse(Double.NaN)
}

/** JSON for the run record: Scala maps, sequences and case classes. */
object Json {
  private val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    .registerModule(com.fasterxml.jackson.module.scala.DefaultScalaModule)

  def apply(v: Any): String = mapper.writeValueAsString(v)
}
