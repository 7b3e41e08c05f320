package graft

import org.apache.spark.sql.{DataFrame, Row}

/** The format-matrix round trip on a HOSTILE frame — embedded
  * newlines, RFC quotes, separators, unicode (astral plane), leading/
  * trailing whitespace, NULL vs empty text — proving the loss-free
  * dials `q_format_roundtrip` pins: CSV needs escape=`"` on BOTH
  * sides, multiLine on read, and an explicit schema; JSON needs the
  * explicit schema (inference on an all-null slice drops the column);
  * ORC is lossless bare. */
class FormatRoundtripSpec extends SparkSuite {
  import spark.implicits._

  private val hostile = Seq(
    (1L, "web", "plain text"),
    (2L, "web", "line one\nline two\r\nline three"),
    (3L, "books", "she said \"quoted, with comma\" and 'single'"),
    (4L, "books", "separator,comma;semi\ttab|pipe"),
    (5L, "code", "x = \"\\\"escaped\\\"\"; // trailing \\"),
    (6L, "web", "unicode: naïve café 中文 😀 𝕊"),
    (7L, "web", "  leading and trailing spaces  "),
    (8L, "web", ""),
    (9L, "web", null),
    (10L, "web", "a" * 10000))
    .toDF("doc_id", "source", "text")

  private def rows(df: DataFrame): Set[(Long, String, Option[String])] =
    df.collect().toSet.map((r: Row) =>
      (r.getLong(0), r.getString(1), Option(r.getString(2))))

  private val expected = rows(hostile)

  test("ORC round trip is exact") {
    val dir = tmp("graft_fmt") + "/orc"
    hostile.write.orc(dir)
    assert(rows(spark.read.orc(dir)) == expected)
  }

  test("JSON round trip is exact with explicit schema") {
    val dir = tmp("graft_fmt") + "/json"
    hostile.write.json(dir)
    assert(rows(spark.read.schema(hostile.schema).json(dir)) == expected)
  }

  test("CSV round trip is exact with the loss-free write+read dial pinned") {
    val dir = tmp("graft_fmt") + "/csv"
    // the three WRITE-side traps: default escape is \ (not RFC "");
    // the writer TRIMS leading/trailing whitespace by default; ''
    // is written unquoted and reads back as NULL
    hostile.write.option("header", "true").option("escape", "\"")
      .option("ignoreLeadingWhiteSpace", "false")
      .option("ignoreTrailingWhiteSpace", "false")
      .option("emptyValue", "\"\"").csv(dir)
    // read-side: nullValue must move OFF the empty string (sentinel),
    // else the quoted '' the writer just preserved is nulled anyway
    val back = spark.read.option("header", "true").option("escape", "\"")
      .option("multiLine", "true").option("nullValue", "\u0000")
      .schema(hostile.schema).csv(dir)
    assert(rows(back) == expected,
      "CSV must preserve newlines, quotes, unicode, whitespace, and the NULL/'' split")
  }

  test("CSV WITHOUT the escape pin corrupts quoted rows (the trap is real)") {
    val dir = tmp("graft_fmt") + "/csv_bad"
    hostile.write.option("header", "true").csv(dir) // default escape is \
    val back = spark.read.option("header", "true").option("escape", "\"")
      .option("multiLine", "true").schema(hostile.schema).csv(dir)
    assert(rows(back) != expected,
      "mismatched escape dialects should NOT round-trip cleanly")
  }
}
