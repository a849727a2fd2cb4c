package graft

import graft.runtime.EngineConf

class ConfigSpec extends SparkTestBase {
  test("EngineConf defaults mirror the reference's config.py") {
    val c = EngineConf.fromEnv(Map.empty)
    assert(c.pollIntervalSec == 30L)
    assert(c.overlapSec == 90L)
    assert(c.queryTimeoutSec == 15)
    assert(c.maxConsecutiveFailures == 10)
  }
  test("EngineConf env overrides") {
    val c = EngineConf.fromEnv(Map("OVERLAP_SEC" -> "120", "STATEMENT_TIMEOUT_MS" -> "30000"))
    assert(c.overlapSec == 120L && c.queryTimeoutSec == 30)
  }
}
