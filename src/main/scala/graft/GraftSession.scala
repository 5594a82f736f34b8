package graft

import org.apache.spark.sql.SparkSession

/** The one local session builder of the graft mains (Bench, Verify, Time,
  * Profile, Shell, Explain) and the test suites, so their session config
  * cannot drift apart:
  *  - graft's extensions (functions, the MAPPED BY SQL parser, plan rules),
  *    installed the way a cluster job would via
  *    `spark.sql.extensions=graft.functions.GraftExtensions`;
  *  - the `graft` catalog plugin, which resolves multipart identifiers of
  *    graft-managed tables and views;
  *  - `cpus` local cores and as many shuffle partitions;
  *  - UTC session time; events.ts is parquet TIMESTAMP(NANOS), read as a
  *    long that `Tables.events` converts to a truncated microsecond
  *    timestamp (matching DuckDB);
  *  - parquet timestamps written as MICROS, not INT96: pandas reads INT96
  *    as datetime64[ns] while the DuckDB oracle side is datetime64[us].
  * Callers set their own log level. */
object GraftSession {
  def local(cpus: Int): SparkSession =
    SparkSession.builder()
      .master(s"local[$cpus]")
      .withExtensions(new graft.functions.GraftExtensions)
      .config("spark.sql.catalog.graft", "graft.sources.GraftCatalog")
      .config("spark.sql.shuffle.partitions", cpus.toLong)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
      .getOrCreate()
}
