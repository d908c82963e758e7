package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Thin engine facade: session bootstrap + table registration.
  *
  * Mirrors the reference's `ExecutionContext` + `InMemoryCatalog`
  * (reference `src/execution/context.rs:217-317`,
  * `src/planner/binder.rs:26-49`) — but here the catalog is Spark's
  * temp-view registry and the engine is Spark SQL itself.
  *
  * Tables are one-parquet-per-table driver testdata (TESTDATA.md). At
  * 100 TB each table would be a partitioned parquet/iceberg directory;
  * `spark.read.parquet(path)` handles both shapes unchanged.
  */
object Engine {

  /** All driver-provided tables (TESTDATA.md + FIXTURES.md §A). */
  val tableNames: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  // Last directory registered per session, so repeated queries(name)(spark, dir)
  // calls don't re-read footers; re-registers when the dir changes.
  private val registeredDir = new java.util.concurrent.ConcurrentHashMap[SparkSession, String]()

  /** Register every table under `sfDir` as a temp view named after the table. */
  def registerDir(spark: SparkSession, sfDir: String): Unit = {
    if (registeredDir.get(spark) != sfDir) synchronized {
      if (registeredDir.get(spark) != sfDir) {
        // TIMESTAMP literals in spark.sql(...) must be NTZ to compare with
        // the repaired NTZ columns without tz coercion surprises.
        spark.conf.set("spark.sql.timestampType", "TIMESTAMP_NTZ")
        tableNames.foreach { t =>
          val p = s"$sfDir/$t.parquet"
          if (new java.io.File(p).exists()) {
            sources.ParquetTables.read(spark, p).createOrReplaceTempView(t)
          }
        }
        TrinoFunctions.register(spark)
        registeredDir.put(spark, sfDir)
      }
    }
  }

  /** Table accessor used by every catalog query. */
  def t(spark: SparkSession, sfDir: String, name: String): DataFrame = {
    registerDir(spark, sfDir)
    spark.table(name)
  }

  /** Runs Spark SQL over the tables under `sfDir`. */
  def sql(spark: SparkSession, sfDir: String)(text: String): DataFrame = {
    registerDir(spark, sfDir)
    spark.sql(text)
  }

  /** Register tables as CATALOG tables (not temp views) and ANALYZE
    * them, then enable cost-based optimization — the Spark analogue of
    * the reference's stats-driven JoinReorder (`join_reorder.rs:29`):
    * with rowCount + column stats in the catalog, Catalyst's
    * JoinReorderDP picks join order by cost instead of syntax, and
    * build-side/broadcast choices use real sizes. Opt-in (stats
    * collection is a scan per table) — at 100 TB you run ANALYZE once
    * after ingest, amortized over every query that follows.
    *
    * Tables are registered under `<name>_s` so stats-backed and
    * temp-view paths coexist in one session. */
  def registerDirWithStats(spark: SparkSession, sfDir: String,
      tables: Seq[String] = Seq("customer", "orders", "lineitem", "supplier", "part",
        "nation", "region")): Unit = synchronized {
    spark.conf.set("spark.sql.cbo.enabled", "true")
    spark.conf.set("spark.sql.cbo.joinReorder.enabled", "true")
    spark.conf.set("spark.sql.statistics.histogram.enabled", "true")
    tables.foreach { name =>
      val p = s"$sfDir/$name.parquet"
      if (new java.io.File(p).exists() &&
          !spark.catalog.tableExists(s"${name}_s")) {
        spark.sql(s"CREATE TABLE ${name}_s USING parquet LOCATION '$p'")
        spark.sql(s"ANALYZE TABLE ${name}_s COMPUTE STATISTICS FOR ALL COLUMNS")
      }
    }
  }

  /** Recursively delete a directory tree if it exists (no-op
    * otherwise). Closes the walk stream — `Files.walk` holds directory
    * handles until closed. Shared by the bucketed-table warehouse
    * cleanup and the fixed-path temp-table rows. */
  def deleteRecursively(path: java.nio.file.Path): Unit =
    if (java.nio.file.Files.exists(path)) {
      val walk = java.nio.file.Files.walk(path)
      try walk.sorted(java.util.Comparator.reverseOrder())
        .forEach(p => java.nio.file.Files.delete(p))
      finally walk.close()
    }

  /** Drop a catalog table AND its warehouse directory: each JVM gets a
    * fresh in-memory metastore, so DROP TABLE alone can't see (or
    * clean) a previous run's location and the next saveAsTable fails
    * with LOCATION_ALREADY_EXISTS. */
  def dropTableAndLocation(spark: SparkSession, table: String): Unit = {
    spark.sql(s"DROP TABLE IF EXISTS $table")
    deleteRecursively(java.nio.file.Paths.get(
      java.net.URI.create(spark.conf.get("spark.sql.warehouse.dir")).getPath,
      table))
  }

  /** Standalone session for mains/tests. local[*] stands in for a real
    * cluster; shuffle partitions sized for local cores, AQE on for
    * runtime re-planning (skew join, partition coalescing) as it would
    * be on a 1000-executor cluster.
    */
  def session(cores: String = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("graft")
      .withExtensions(new plans.GraftExtensions)
      // Shuffle parallelism defaults to the core count (right for the
      // test SFs, where 32 partitions ≈ task-per-core with no spill)
      // but is independently overridable: partition count is a DATA
      // dial, not a core dial — at sf10 the suite's largest shuffles
      // reach ~90 MB compressed per partition at 32 and start
      // spilling, so a scaled run sizes partitions up (docs/
      // BENCH_NOTES.md records both readings). On a real cluster this
      // is the `spark.sql.shuffle.partitions ≈ input / 128 MB` sizing
      // rule; AQE coalesces back any excess on the small stages.
      .config("spark.sql.shuffle.partitions",
        sys.env.getOrElse("SPARK_GRAFT_SHUFFLE_PARTITIONS", cores))
      .config("spark.sql.adaptive.enabled", "true")
      // Shuffle/spill codec (guide §2.3): lz4 default — the r17 sf10
      // A/B (docs/BENCH_NOTES.md) measured zstd's better ratio against
      // its CPU cost on this suite; parameterised so a cluster profile
      // can flip it without a code change.
      .config("spark.io.compression.codec",
        sys.env.getOrElse("SPARK_GRAFT_IO_CODEC", "lz4"))
      .config("spark.sql.session.timeZone", "UTC")
      // ANSI "quoted identifiers" (the reference accepts `AS "select"`,
      // sql_comprehensive.rs:1305); without this Spark parses double
      // quotes as string literals
      .config("spark.sql.ansi.doubleQuotedIdentifiers", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.parquet.filterPushdown", "true")
      .config("spark.sql.autoBroadcastJoinThreshold", (64L * 1024 * 1024).toString)
      // Runtime bloom-filter join pruning: when one join side carries a
      // selective filter, inject bloom_filter_might_contain on the other
      // side's scan so fact rows that cannot match die at the scan, not
      // at the shuffle — at 100 TB this is the difference between
      // shuffling a full fact table and shuffling the ~1% that survives
      // a dimension's predicate. Size thresholds stay at Spark defaults
      // (the injection only pays off above real scan sizes); ScaleSpec
      // demonstrates the rewrite with test-scaled thresholds.
      .config("spark.sql.optimizer.runtime.bloomFilter.enabled", "true")
      // Spark's generated-class cache (Janino output) is one LRU per
      // JVM, sized by whichever session generates code first. At the
      // default of 100 a cyclic run over more classes than that never
      // hits: the 22 TPC-H rows need 307, so every warm pass
      // recompiled all of them. Sized to the whole catalog's working
      // set, measured with `ScaleSweep codegen 3` at sf0.01: one pass
      // of all 241 rows compiles 2,426 distinct classes, and every
      // later pass ~270 that are never reused. 4096 is the smallest
      // power of two with ≥ 1.5× headroom over that. Heap after GC on
      // the third pass: 342 MiB here, 258 MiB at 100 (~30 KB per
      // cached class). Not a dial: re-measure before changing it
      // (docs/BENCH_NOTES.md, "Generated-class cache").
      .config("spark.sql.codegen.cache.maxEntries", "4096")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
