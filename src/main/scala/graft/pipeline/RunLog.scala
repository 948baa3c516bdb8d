package graft.pipeline

import java.nio.file.{Files, Paths, StandardOpenOption}
import java.time.format.DateTimeFormatter
import java.time.{Instant, ZoneOffset}

/** Per-run log file, the engine's analog of the reference's
  * `setup_logger` (`/root/reference/src/logger_setup.py:82`): a
  * timestamped `automacao_<ts>.log` whose PATH travels with the run so
  * the compressor can copy it into the archive folder
  * (`compressor.py:98` — the zip must carry the evidence of how it was
  * produced). Lines are `ts - LEVEL - message`, appended and flushed per
  * write so a crashed run still leaves everything up to the failure. */
final class RunLog(logDir: String, now: Instant = Instant.now()) {

  private val stamp = DateTimeFormatter.ofPattern("yyyy-MM-dd_HH-mm-ss")
    .withZone(ZoneOffset.UTC).format(now)
  val path: String = s"$logDir/automacao_$stamp.log"
  Files.createDirectories(Paths.get(logDir))

  private def write(level: String, msg: String): Unit = {
    val line = s"${Instant.now()} - $level - $msg\n"
    Files.write(Paths.get(path), line.getBytes("UTF-8"),
      StandardOpenOption.CREATE, StandardOpenOption.APPEND)
  }

  def info(msg: String): Unit = write("INFO", msg)

  def warn(msg: String): Unit = write("WARNING", msg)

  def error(msg: String, e: Throwable = null): Unit = {
    write("CRITICAL", msg)
    if (e != null) {
      val sw = new java.io.StringWriter()
      e.printStackTrace(new java.io.PrintWriter(sw))
      write("CRITICAL", sw.toString)
    }
  }
}
