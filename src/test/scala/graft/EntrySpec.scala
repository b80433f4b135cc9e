package graft

/** The flagship smoke check: `SparkEntry.entry` on a PLAIN session —
  * no extensions, no tuned confs (the shared test session is one) — must
  * return rows. Catches any dependency of the entry path on
  * GraftExtensions or session config, e.g. an operator whose planner
  * strategy only the extension would install. */
class EntrySpec extends SparkSpec {
  test("entry returns rows on a plain session") {
    assert(spark.conf.getOption("spark.sql.extensions").isEmpty)
    assert(SparkEntry.entry(spark).count() > 0)
  }
}
