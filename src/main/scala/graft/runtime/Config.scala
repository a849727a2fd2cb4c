package graft.runtime

/** Env-driven engine configuration (SURVEY §2.1 S7) — the reference's
  * config.py: every knob an env var with the same default, so an operator
  * of the reference finds the same dials here. The reference's row cap
  * (`MAX_BATCH_ROWS`) is per stream here (`ScenarioPipeline.streams`), and
  * its sink page size has no counterpart: no sink writes over JDBC.
  */
final case class EngineConf(
    pollIntervalSec: Long,   // POLL_INTERVAL_SEC=30   (config.py:28)
    overlapSec: Long,        // OVERLAP_SEC=90         (config.py:29)
    queryTimeoutSec: Int,    // statement_timeout 15s  (config.py:14)
    maxConsecutiveFailures: Int) // scheduler.py:43

object EngineConf {
  def fromEnv(env: Map[String, String] = sys.env): EngineConf = {
    def i(k: String, d: Int): Int = env.get(k).map(_.trim.toInt).getOrElse(d)
    EngineConf(
      pollIntervalSec = i("POLL_INTERVAL_SEC", 30).toLong,
      overlapSec = i("OVERLAP_SEC", 90).toLong,
      queryTimeoutSec = i("STATEMENT_TIMEOUT_MS", 15000) / 1000,
      maxConsecutiveFailures = i("MAX_CONSECUTIVE_FAILURES", 10))
  }
}
