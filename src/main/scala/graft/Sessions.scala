package graft

import org.apache.spark.sql.SparkSession

/** One place for session-construction config shared by Bench, Verify and
  * the test suite, so session-wide semantics (UTC, legacy nanos parquet
  * reads) are set exactly once at construction — never mutated at read
  * time inside a loader, which would leak into concurrent queries.
  */
object Sessions {
  /** Engine configs every graft session needs. */
  def configure(b: SparkSession.Builder): SparkSession.Builder = b
    .config("spark.sql.session.timeZone", "UTC")
    // Early-vintage events.parquet carried TIMESTAMP(NANOS); the
    // vectorized reader refuses it unless nanos are surfaced as raw longs
    // (Tables.events truncates them to micros, matching DuckDB's read of
    // the same file). Current datasets are TIMESTAMP(MICROS), where this
    // conf is inert — kept so both vintages read (see Tables.events).
    .config("spark.sql.legacy.parquet.nanosAsLong", "true")
    // keep catalog artifacts (bucketed-table demos) out of the repo tree
    // Spark 4 routes upper/lower through ICU case mappings even for
    // UTF8_BINARY; the first executor call pays a CollationAwareUTF8String
    // static init that enumerates every Unicode codepoint (minutes of CPU
    // under load — observed stalling a bench pass), and per-row ICU casing
    // is slower than JVM casing thereafter. JVM casing matches DuckDB
    // exactly on this corpus (ASCII) and on any ASCII slug/key data; the
    // engine's normalize operators only target such keys.
    .config("spark.sql.icu.caseMappings.enabled", "false")
    .config("spark.sql.warehouse.dir",
      s"${sys.props("java.io.tmpdir")}/graft-warehouse")
    .config("javax.jdo.option.ConnectionURL",
      s"jdbc:derby:;databaseName=${sys.props("java.io.tmpdir")}/graft-metastore;create=true")
    .config("spark.ui.enabled", "false")
    // the status stores keep finished SQL executions, jobs and stages on
    // the heap even with the UI off (default 1000 each), and nothing in
    // the engine reads them: a long-lived serving session would hold the
    // plans of its last thousand requests
    .config("spark.sql.ui.retainedExecutions", "20")
    .config("spark.ui.retainedJobs", "20")
    .config("spark.ui.retainedStages", "20")

  /** Standard local session: `local[cpus]`, shuffle.partitions = cpus.
    * Built with [[graft.functions.GraftExtensions]] so the session
    * carries the SQL-callable custom functions AND the injected
    * optimizer rule ([[graft.plans.UnwrapStringCast]]) from
    * construction — `injectOptimizerRule` has no post-hoc registration
    * path, unlike function registration. */
  def local(cpus: String, appName: String): SparkSession = {
    val s = configure(
      SparkSession.builder()
        .master(s"local[$cpus]")
        .appName(appName)
        .withExtensions(new graft.functions.GraftExtensions)
        .config("spark.sql.shuffle.partitions", cpus))
      .getOrCreate()
    Tables.registerFunctions(s) // the one registry list — see Tables
    s
  }
}
