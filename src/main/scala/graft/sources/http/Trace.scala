package graft.sources.http

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths, StandardOpenOption}
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Connector tracing — the `spark.graft.trace.*` config surface, mirroring
  * the reference's pragma set (erpl-web `src/erpl_web_extension.cpp:240-252`
  * options `erpl_trace_enabled/level/output/file_path/max_file_size/rotation`
  * and pragmas `erpl_trace_enable/level/directory/status` at `:846-860`).
  * The reference's telemetry options (`erpl_telemetry_*`, a hosted analytics
  * key) are deliberately NOT mirrored — no phone-home surface in graft.
  *
  * Confs (read from the active SparkSession on every emit, so a
  * `spark.conf.set` takes effect immediately, like a pragma):
  *   spark.graft.trace.enabled        false     master switch
  *   spark.graft.trace.level          INFO      TRACE|DEBUG|INFO|WARN|ERROR
  *   spark.graft.trace.output         console   console|file|both
  *   spark.graft.trace.dir            ""        trace-file directory
  *   spark.graft.trace.maxFileSize    10485760  rotate threshold, bytes
  *   spark.graft.trace.rotation       true      rotate vs truncate at the cap
  *
  * Executors have no active session; there the same keys are read from
  * system properties (set via `spark.executor.extraJavaOptions`). Tracing
  * defaults OFF everywhere — the hot path costs one volatile-free conf
  * lookup only when a trace call site is reached, and call sites are
  * per-HTTP-request, never per-row. */
object Trace {
  private val Levels = Seq("TRACE", "DEBUG", "INFO", "WARN", "ERROR")
  private def rank(l: String): Int = math.max(0, Levels.indexOf(l.toUpperCase))

  /** The session whose confs this thread's lines follow, while it emits
    * for another thread (see [[within]]); null: its own active session. */
  private val lent = new ThreadLocal[Option[SparkSession]]

  /** The calling thread's trace settings, for lines emitted later on another
    * thread (an HTTP request's completion and retry threads). */
  def capture(): Option[SparkSession] = Option(lent.get).getOrElse(SparkSession.getActiveSession)

  /** Runs `body` with its lines going where the thread that made `captured`
    * would send them. */
  def within[T](captured: Option[SparkSession])(body: => T): T = {
    val prev = lent.get
    lent.set(captured)
    try body finally lent.set(prev)
  }

  private def conf(key: String, default: String): String =
    capture()
      .flatMap(s => s.conf.getOption(s"spark.graft.trace.$key"))
      .orElse(Option(System.getProperty(s"spark.graft.trace.$key")))
      .getOrElse(default)

  def enabled: Boolean = conf("enabled", "false").toBoolean
  def level: String = conf("level", "INFO").toUpperCase

  private def shouldEmit(msgLevel: String): Boolean =
    enabled && rank(msgLevel) >= rank(level)

  /** One line, reference format `[ts] [LEVEL] [component] message`. */
  private def emit(msgLevel: String, component: String, msg: String): Unit = {
    if (!shouldEmit(msgLevel)) return
    val line = s"[${java.time.Instant.now()}] [$msgLevel] [$component] $msg"
    val out = conf("output", "console")
    if (out == "console" || out == "both") System.err.println(line)
    if (out == "file" || out == "both") writeFile(line)
  }

  private def writeFile(line: String): Unit = synchronized {
    val dir = conf("dir", "")
    if (dir.isEmpty) return
    try {
      val d = Paths.get(dir)
      Files.createDirectories(d)
      val f = d.resolve("graft_trace.log")
      val max = conf("maxFileSize", "10485760").toLong
      if (Files.exists(f) && Files.size(f) >= max) {
        if (conf("rotation", "true").toBoolean) {
          // single-generation rotation like the reference default: current
          // file shelved with a timestamp suffix, new file started
          Files.move(f, d.resolve(s"graft_trace.${System.currentTimeMillis()}.log"))
        } else Files.delete(f)
      }
      Files.write(f, (line + "\n").getBytes(StandardCharsets.UTF_8),
        StandardOpenOption.CREATE, StandardOpenOption.APPEND)
    } catch { case _: Exception => () } // tracing must never break a query
  }

  def debug(component: String, msg: => String): Unit =
    if (shouldEmit("DEBUG")) emit("DEBUG", component, msg)
  def info(component: String, msg: => String): Unit =
    if (shouldEmit("INFO")) emit("INFO", component, msg)
  def warn(component: String, msg: => String): Unit =
    if (shouldEmit("WARN")) emit("WARN", component, msg)
  def error(component: String, msg: => String): Unit =
    if (shouldEmit("ERROR")) emit("ERROR", component, msg)

  /** The `erpl_trace_status` pragma as a one-row DataFrame. */
  def status(spark: SparkSession): DataFrame = {
    import spark.implicits._
    Seq((enabled, level, conf("output", "console"), conf("dir", ""),
      conf("maxFileSize", "10485760").toLong, conf("rotation", "true").toBoolean))
      .toDF("enabled", "level", "output", "dir", "max_file_size", "rotation")
  }
}
