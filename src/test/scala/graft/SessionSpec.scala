package graft

/** [[Session.local]] carries the pinned engine semantics, and
  * [[Session.withConf]] puts every conf it sets back. */
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

  test("withConf restores a set key, unsets a key that was unset, and " +
      "restores both when the body throws") {
    val (set, unset) = ("spark.sql.shuffle.partitions", "graft.test.withConf")
    val was = spark.conf.get(set)
    assert(!spark.conf.getAll.contains(unset))
    def conf = (spark.conf.get(set), spark.conf.getOption(unset))
    val seen = Session.withConf(spark, set -> "7", unset -> "on") {
      val outer = conf
      // a nested call restores the outer block's values
      Session.withConf(spark, set -> "9")(assert(conf == (("9", Some("on")))))
      (outer, conf)
    }
    assert(seen == (("7", Some("on")), ("7", Some("on"))))
    assert(conf == ((was, None)))
    assert(!spark.conf.getAll.contains(unset))
    intercept[IllegalStateException](
      Session.withConf(spark, set -> "7", unset -> "on") {
        assert(conf == (("7", Some("on"))))
        throw new IllegalStateException("body failed")
      })
    assert(conf == ((was, None)))
    assert(!spark.conf.getAll.contains(unset))
  }
}
