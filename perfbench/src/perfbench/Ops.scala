package perfbench

import java.io.{ByteArrayOutputStream, OutputStream, PrintStream}

import scala.collection.mutable.ArrayBuffer

/** One timed operation of a workload. Times are wall-clock epoch
  * milliseconds (the clock Spark's listener events carry) plus a
  * nanosecond latency for the reported figure. */
final case class Op(
    round: Int,
    kind: String,
    name: String,
    startMs: Long,
    endMs: Long,
    latencyS: Double,
    var ok: Boolean,
    var error: String)

/** Records the closed-loop op sequence of one run. */
final class Recorder {
  val ops = ArrayBuffer.empty[Op]
  /** Wall time of each round: (round, seconds). */
  val rounds = ArrayBuffer.empty[(Int, Double)]

  def add(op: Op): Op = synchronized { ops += op; op }

  /** Time `body` as one op; a thrown exception is a failed op. */
  def op(round: Int, kind: String, name: String)(body: => Unit): Op = {
    val t0ms = System.currentTimeMillis()
    val t0 = System.nanoTime()
    val err =
      try { body; null }
      catch { case scala.util.control.NonFatal(e) => String.valueOf(e.getMessage).take(300) }
    val lat = (System.nanoTime() - t0) / 1e9
    add(Op(round, kind, name, t0ms, System.currentTimeMillis(), lat, err == null, err))
  }

  def round(r: Int)(body: => Unit): Unit = {
    val t0 = System.nanoTime()
    body
    rounds += ((r, (System.nanoTime() - t0) / 1e9))
  }
}

/** Runs a `Cli` verb exactly as a command line would, with its stdout
  * captured line by line (each line stamped on arrival) and echoed to
  * stderr, so the benchmark's own stdout stays a clean protocol. */
object CliCall {
  final case class Line(ms: Long, nanos: Long, text: String)

  def run(args: Seq[String]): (Int, Seq[Line]) = {
    val lines = new java.util.concurrent.ConcurrentLinkedQueue[Line]()
    val sink = new OutputStream {
      private val buf = new ByteArrayOutputStream()
      override def write(b: Int): Unit = synchronized {
        if (b == '\n') {
          val s = buf.toString("UTF-8")
          buf.reset()
          lines.add(Line(System.currentTimeMillis(), System.nanoTime(), s))
          System.err.println(s)
        } else buf.write(b)
      }
    }
    val out = new PrintStream(sink, true, "UTF-8")
    val code = Console.withOut(out)(graft.Cli.run(args.toArray))
    out.flush()
    (code, scala.jdk.CollectionConverters.IteratorHasAsScala(lines.iterator()).asScala.toSeq)
  }

  /** A verb that returns non-zero is a failed op. */
  def check(args: Seq[String]): Seq[Line] = {
    val (code, lines) = run(args)
    if (code != 0) sys.error(s"${args.head} exited $code")
    lines
  }
}
