package perfbench

import java.util.concurrent.LinkedBlockingQueue

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

/** One answered serve command, timed from outside the loop: `start` is
  * when the loop took the line, `end` when it printed the terminating
  * line, `serviceMs` the loop's own `(N ms)` figure (NaN if it printed
  * none).
  */
final case class Reply(startNs: Long, endNs: Long, serviceMs: Double,
    lines: Vector[String])

/** Runs `graft.Cli.serve` on its own thread, fed through an in-memory
  * reader and drained through an in-memory stream. Both ends stamp
  * `System.nanoTime` on the serve thread itself, so start and
  * completion times carry no pipe or polling delay.
  */
final class ServeLoop(spark: SparkSession, tickDir: String,
    embDir: Option[String], jobGroup: String) {
  private val EOF = "\u0000eof"
  private val cmds = new LinkedBlockingQueue[String]()
  private val starts = new LinkedBlockingQueue[java.lang.Long]()
  private val lines = new LinkedBlockingQueue[(String, Long)]()
  @volatile private var failure: Throwable = null

  private val in = new java.io.BufferedReader(new java.io.StringReader("")) {
    override def readLine(): String = {
      val c = cmds.take()
      starts.put(System.nanoTime())
      if (c == EOF) null else c
    }
  }
  private val out = new java.io.PrintStream(new java.io.OutputStream {
    private val buf = new java.io.ByteArrayOutputStream()
    override def write(b: Int): Unit =
      if (b == '\n') {
        lines.put((buf.toString("UTF-8"), System.nanoTime())); buf.reset()
      } else buf.write(b)
  }, false, "UTF-8")

  private val thread = new Thread(() => {
    spark.sparkContext.setJobGroup(jobGroup, "serve loop", interruptOnCancel = false)
    try graft.Cli.serve(spark, tickDir, in, out, embDir = embDir)
    catch { case t: Throwable => failure = t; lines.put(("error: " + t, System.nanoTime())) }
  }, "perfbench-serve")
  thread.setDaemon(true)

  /** Starts the loop and blocks until it reports ready; returns the
    * lines printed before the ready line (prewarm failures show here).
    */
  def start(): Vector[String] = {
    thread.start()
    val pre = Vector.newBuilder[String]
    var ready = false
    while (!ready) {
      val (l, _) = lines.take()
      if (l.startsWith("graft serve")) ready = true
      else if (failure != null) throw failure
      else pre += l
    }
    pre.result()
  }

  def send(cmd: String): Unit = cmds.put(cmd)

  private def terminal(l: String): Boolean =
    (l.startsWith("(") && l.endsWith(" ms)")) || l.startsWith("error:") ||
      l.startsWith("commands:")

  /** Blocks for the next reply, in command order. */
  def reply(timeoutMs: Long = 120000L): Reply = {
    val start = starts.poll(timeoutMs, java.util.concurrent.TimeUnit.MILLISECONDS)
    if (start == null) throw new RuntimeException("serve loop took no command")
    val body = Vector.newBuilder[String]
    while (true) {
      val got = lines.poll(timeoutMs, java.util.concurrent.TimeUnit.MILLISECONDS)
      if (got == null) throw new RuntimeException("serve loop stopped answering")
      val (l, t) = got
      if (terminal(l)) {
        val svc =
          if (l.startsWith("(")) l.stripPrefix("(").stripSuffix(" ms)").trim.toDouble
          else { body += l; Double.NaN }
        return Reply(start, t, svc, body.result())
      }
      body += l
    }
    throw new IllegalStateException
  }

  /** Sends `exit` and waits for the serve thread to end. */
  def stop(): Unit = {
    cmds.put("exit")
    thread.join(60000L)
    if (thread.isAlive) { cmds.put(EOF); thread.join(60000L) }
  }
}
