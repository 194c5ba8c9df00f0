package graft.core

import java.util.concurrent.atomic.AtomicBoolean

/** Global debug toggle — reference `set_debug(bool)` (src/helpers.rs:12-21),
  * an atomic flag consulted by verbose paths; also drops the engine's
  * log4j level when enabled.
  */
object Debug {
  private val flag = new AtomicBoolean(false)

  def setDebug(enabled: Boolean): Unit = {
    flag.set(enabled)
    val level = if (enabled) org.apache.logging.log4j.Level.DEBUG
                else org.apache.logging.log4j.Level.WARN
    org.apache.logging.log4j.core.config.Configurator.setLevel("graft", level)
  }

  /** Debug-gated stage log — the engine's counterpart of the crate's
    * `dbg_println` build-stage traces (reference src/helpers.rs:12-21,
    * observed in suggested_eps.md:3-11). */
  def log(msg: => String): Unit =
    if (flag.get()) System.err.println(s"[graft] $msg")

  /** Time a stage; logs "<name>: <sec>s" when debug is on. */
  def timed[A](name: String)(f: => A): A = {
    if (!flag.get()) f
    else {
      val t0 = System.nanoTime()
      val r = f
      log(f"$name: ${(System.nanoTime() - t0) / 1e9}%.2fs")
      r
    }
  }
}
