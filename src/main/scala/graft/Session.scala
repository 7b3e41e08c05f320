package graft

import org.apache.spark.sql.SparkSession

/** The one place a graft session is built. Every main and the test
  * suites start from [[local]], so the engine's semantics cannot drift
  * between them:
  *
  *  - `GraftExtensions` (the `graft_*` SQL functions and parser);
  *  - `local[cpus]` with `cpus` shuffle partitions;
  *  - UTC session time zone;
  *  - ANSI off — reference parity with Spark 3.5 (`x/0 → NULL`,
  *    SURVEY.md §7.5), which Spark 4 flips by default;
  *  - AQE on;
  *  - `legacy.parquet.nanosAsLong` — events.parquet stores
  *    TIMESTAMP(NANOS), read as long and converted in `Tables.load`;
  *  - the `lake` catalog (`graft.sources.LakeCatalog`), so SQL names
  *    lake tables as ``lake.`<path>` ``;
  *  - no UI.
  *
  * Callers add only deployment settings: master URL, app name and
  * warehouse dir. A block that needs other confs for a while sets them
  * through [[withConf]], the one place session confs are set and put
  * back. */
object Session {

  /** `SPARK_GRAFT_CPUS`, else `default` — the core count mains run on. */
  def envCpus(default: Int = 4): Int =
    sys.env.get("SPARK_GRAFT_CPUS").fold(default)(_.toInt)

  def local(cpus: Int = envCpus()): SparkSession.Builder =
    SparkSession.builder()
      .withExtensions(new graft.functions.GraftExtensions)
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.ansi.enabled", "false")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.catalog.lake", "graft.sources.LakeCatalog")
      .config("spark.ui.enabled", "false")

  /** Run `body` with the session confs `confs` set, then put each key
    * back as it was — its previous value, or unset when it had none —
    * even when `body` throws. Nested calls restore innermost first. */
  def withConf[T](spark: SparkSession, confs: (String, String)*)(body: => T): T = {
    // the explicitly set confs: a key at its default restores to unset
    val set = spark.conf.getAll
    val prev = confs.map { case (k, _) => k -> set.get(k) }
    try {
      confs.foreach { case (k, v) => spark.conf.set(k, v) }
      body
    } finally prev.reverse.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }
}
