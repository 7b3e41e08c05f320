package graft

/** [[Session.local]] carries the pinned engine semantics. */
class SessionSpec extends SparkSuite {

  test("a graft.Session session pins non-ANSI, UTC, nanosAsLong, AQE and the extensions") {
    // the suites' shared session is itself a Session.local(4) session
    val s = Session.local(4).getOrCreate()
    assert(s.conf.get("spark.sql.ansi.enabled") == "false")
    assert(s.conf.get("spark.sql.session.timeZone") == "UTC")
    assert(s.conf.get("spark.sql.legacy.parquet.nanosAsLong") == "true")
    assert(s.conf.get("spark.sql.adaptive.enabled") == "true")
    assert(s.sql("SELECT 1 / 0").head().isNullAt(0))
    assert(s.sql("SELECT graft_fingerprint('Hello  World')").head().getString(0).nonEmpty)
  }
}
