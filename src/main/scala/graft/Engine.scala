package graft

import org.apache.spark.sql.SparkSession

/** Session facade for the graft engine.
  *
  * Plays the role of the reference FE's session/coordinator setup
  * (StarRocks `qe/ConnectProcessor` + `qe/SessionVariable`): one place
  * that pins execution-relevant settings. Everything else (optimizer,
  * shuffle, spill) is Catalyst/AQE — see SURVEY.md §4.
  *
  * Scale notes (100 TB target):
  *  - AQE on: runtime partition coalescing, skew-join splitting and
  *    dynamic join-strategy switch replace the reference's CBO
  *    re-planning + skew rules (`SkewJoinOptimizeRule.java`).
  *  - runtime bloom filters ≈ the reference's global runtime filters
  *    (`be/src/exec_primitive/runtime_filter/`).
  *  - ANSI off: the reference is MySQL-flavored (lenient casts,
  *    NULL on bad input, `be/src/exprs/cast_expr.cpp`); Spark ANSI
  *    mode would raise instead.
  */
object Engine {

  /** Apply graft's standard configuration to a builder. */
  def configure(b: SparkSession.Builder, cores: String): SparkSession.Builder =
    b.master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", "32")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.ansi.enabled", "false")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      .config("spark.sql.optimizer.runtime.bloomFilter.enabled", "true")
      .config("spark.sql.parquet.filterPushdown", "true")
      .config("spark.sql.parquet.aggregatePushdown", "true")
      .config("spark.sql.optimizer.nestedSchemaPruning.enabled", "true")
      .config("spark.sql.cbo.enabled", "true")
      .config("spark.sql.autoBroadcastJoinThreshold", 64L * 1024 * 1024)
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      // testdata parquet carries naive timestamp[us] (no UTC
      // adjustment flag); read it as session-TZ TIMESTAMP (UTC
      // session above) rather than TIMESTAMP_NTZ so event-time
      // streaming (watermarks require LTZ) and epoch arithmetic keep
      // working and values match the DuckDB oracle's naive reading
      .config("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
      // Generated-class cache (the reference keeps compiled hot
      // expressions in an LRU, be/src/exprs/jit/jit_engine.cpp). Spark
      // keys it by (context classloader, source), so in local[N] every
      // whole-stage class is compiled twice: on the driver and under
      // the task classloader. One pass over the 22 TPC-H gates needs
      // ~320 entries, the lake MoR upsert path ~50 more; the default
      // 100-entry LRU missed on every lookup of that closed loop
      // (310 compiles per pass). 1000 is the measured working set with
      // ~2.7x headroom. The conf is STATIC: it only takes on the
      // builder (Session.prepare's spark.conf.set would throw), and
      // CodeGenerator reads it once per JVM, at first use.
      .config("spark.sql.codegen.cache.maxEntries", 1000L)
      // Name whole-stage classes without their codegen stage id, which
      // is part of the cached source: AQE numbers stages as re-planning
      // reaches them, so stage timing alone made q2/q21 recompile 4-6
      // classes on a warm pass. Without it the 22 TPC-H gates need 282
      // classes, not 314, and a warm pass recompiles none.
      .config("spark.sql.codegen.useIdInClassName", "false")
      .config("spark.ui.enabled", "false")
      .config("spark.driver.host", "localhost")

  /** Build (or reuse) a configured session and register graft functions. */
  def session(cores: String = sys.env.getOrElse("SPARK_GRAFT_CPUS", "*")): SparkSession = {
    val spark = configure(SparkSession.builder().appName("graft"), cores).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    Session.prepare(spark)
  }
}
