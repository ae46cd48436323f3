package graft

import org.apache.spark.sql.SparkSession

/** Tuned SparkSession factory (SURVEY.md §4).
  *
  * One place for the settings every entrypoint (Verify, Bench, specs)
  * must agree on:
  *   - AQE on (runtime coalesce + skew-join splitting — the 100 TB
  *     safety net for estimation errors),
  *   - shuffle partitions sized to the local core count (the 200
  *     default would make every local shuffle 6× over-partitioned;
  *     on a real cluster this is set to ~2-3× total cores),
  *   - UTC session timezone (oracle parity, SURVEY.md §6),
  *   - nanos-as-long, so an events parquet written as TIMESTAMP(NANOS)
  *     by another engine reads as int64 nanos that Events.withTs
  *     converts to µs (the generated tables are TIMESTAMP(MICROS)).
  *     This builder is the conf's one owner: no loader sets it.
  */
object GraftSession {

  def builder(cores: Int): SparkSession.Builder =
    SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      // parallelismFirst stays at its default (true): r19 measured the
      // size-first alternative (coalesce small shuffles below the core
      // count) and it HURT — this engine's expensive stages are CPU
      // per ROW (codec round-trips, in-group pair expansion) fed by
      // byte-small shuffles, and size-based coalescing serialized them
      // onto one core (q207 8.9→49 s, q212 2.3→10.9 s) for a ~2 s/query
      // saving on the KB-sized iterative frames. AQE coalescing cannot
      // see downstream cost-per-row; keep parallelism first.
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      // ddl11: cost-based optimizer ON — AQE fixes estimation mistakes
      // at runtime AFTER a shuffle is already planned; with metastore
      // stats (ANALYZE TABLE ... COMPUTE STATISTICS [FOR COLUMNS], the
      // ddl04 surface) CBO makes the broadcast/join-order call at PLAN
      // time, which is what a 6-table q05 shape needs at 100 TB. Both
      // flags are inert on stats-less relations (file-size estimates
      // flow exactly as before), so the 206 file-based driver queries
      // plan identically; catalog tables opt in by running ANALYZE.
      // PlanBudgetSpec pins the flip: column stats alone turn a
      // filtered join broadcast with AQE disabled.
      .config("spark.sql.cbo.enabled", "true")
      .config("spark.sql.cbo.joinReorder.enabled", "true")
      .config("spark.sql.extensions", classOf[GraftExtensions].getName)
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.shuffle.spill.compress", "true")
      .config("spark.ui.enabled", "false")
      // RocksDB state store: streaming state lives off-heap/on-disk per
      // executor instead of in an in-memory HashMap — at 100 TB/day the
      // sessionization/dedup state (O(active keys)) must survive without
      // executor-heap pressure; incremental checkpoints upload only
      // changed SST files
      .config("spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")

  /** Hive-metastore-enabled builder (the north star's "HiveContext"
    * surface): a derby-backed persistent external catalog rooted at
    * `dir` — CTAS/partitioned DDL issued through SQL text survives the
    * session because table metadata lives in the metastore, not the
    * in-memory session catalog. On a real cluster `dir` is replaced by
    * the shared metastore URI + lake warehouse path; derby is the
    * single-process stand-in (one derby instance per JVM).
    *
    * Callers should also set the system property `derby.system.home`
    * to `dir` BEFORE the first session is created, else derby drops a
    * `derby.log` in the process working directory. */
  def hiveBuilder(cores: Int, dir: String): SparkSession.Builder =
    builder(cores)
      .enableHiveSupport()
      .config("spark.sql.warehouse.dir", s"$dir/warehouse")
      .config("spark.hadoop.javax.jdo.option.ConnectionURL",
        s"jdbc:derby:;databaseName=$dir/metastore_db;create=true")
      // dynamic mode: INSERT OVERWRITE replaces ONLY the partitions the
      // insert produces — the Hive-warehouse daily-load semantics (static
      // mode would truncate every other partition of the table)
      .config("spark.sql.sources.partitionOverwriteMode", "dynamic")

  /** Cores from SPARK_GRAFT_CPUS (driver contract), default 32. */
  def envCores: Int = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt

  def local(): SparkSession = {
    val s = builder(envCores).getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    // ddl10: permanent CREATE FUNCTION survives restarts — replay the
    // warehouse function registry into the fresh catalog (no-op when
    // the registry file doesn't exist; a failure to replay must not
    // take the session down with it, so it degrades to a warning)
    try graft.sources.FunctionRegistry.replay(s)
    catch {
      case e: Exception =>
        System.err.println(s"[graft] function-registry replay failed: $e")
    }
    s
  }
}
