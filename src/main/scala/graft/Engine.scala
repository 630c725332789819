package graft

import org.apache.spark.sql.SparkSession

/** SparkSession factory for the engine (SURVEY.md §7.3 step 1).
  *
  * Replaces the reference's connection bootstrap
  * (`Select de Importação de Dados.py:14-23,156-164`) — instead of two
  * RDBMS connections, one Catalyst-hosting session. The master and the
  * shuffle partitions follow `cores` (default 32, or `SPARK_GRAFT_CPUS`),
  * and every conf is overridable via `SPARK_GRAFT_EXTRA_CONF`, mirroring
  * the reference's env-with-defaults config style (S8).
  *
  * Scale notes (100 TB design intent):
  *   - AQE on: runtime partition coalescing, skew-join splitting, and
  *     join-strategy switching are the main levers that survive a
  *     1000-executor scale-up without re-tuning.
  *   - shuffle.partitions is a *local-mode* default (= cores); on a real
  *     cluster AQE's coalesceShufflePartitions makes the initial number
  *     mostly irrelevant as long as it is high enough.
  *   - UTC session timezone pinned: the reference lands pre-formatted
  *     date strings (SURVEY §1.2), so formatting must be tz-stable.
  *   - [[codegen]] is fixed, not derived from the core count: it sizes
  *     each JVM's cache of generated classes, whose working set is set
  *     by how many distinct plans a pass runs, not by how many tasks run
  *     them.
  */
object EngineSession {

  /** The generated-class cache settings every engine session runs with.
    * The reference starts a fresh process per pipeline script; the
    * engine re-runs its queue in one JVM, so a warm pass should reuse
    * the classes the pass before compiled.
    *   - `cache.maxEntries` is a static conf: it sizes the JVM-wide
    *     LRU of compiled classes once, when the first class compiles.
    *     Spark's 100 (about 25 per cache segment) is smaller than one
    *     ETL or commit-log pass, so each pass evicted the classes of the
    *     last one and recompiled 52–77 of them.
    *   - `useIdInClassName=false` keeps the whole-stage codegen id out
    *     of the class name: AQE numbers stages per plan, so the same
    *     stage under a new id would otherwise compile again. */
  val codegen: Seq[(String, String)] = Seq(
    "spark.sql.codegen.cache.maxEntries" -> "2000",
    "spark.sql.codegen.useIdInClassName" -> "false")

  def create(
      appName: String = "graft",
      cores: String = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
  ): SparkSession = {
    val builder = SparkSession
      .builder()
      .withExtensions(new graft.expressions.GraftExtensions)
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .master(s"local[$cores]")
      .appName(appName)
      .config("spark.sql.shuffle.partitions", cores)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      // storage-partitioned joins: honor the KeyGroupedPartitioning a
      // bucketed commit-log scan reports (bucket-aligned fact joins
      // then plan with zero shuffle exchanges); affects only V2 scans
      // that actually claim a key-grouped layout
      .config("spark.sql.sources.v2.bucketing.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config(codegen.toMap)
    // free-form overrides, S8's env-with-defaults style generalized:
    // "key=value;key=value" — the A/B lever for configuration tuning
    // (optimization guide §1.2 step 3) without a recompile, and the
    // production override point for scale-dependent settings
    val spark = sys.env.get("SPARK_GRAFT_EXTRA_CONF")
      .iterator.flatMap(_.split(';')).map(_.trim).filter(_.nonEmpty)
      .foldLeft(builder) { (b, kv) =>
        val i = kv.indexOf('=')
        require(i > 0, s"SPARK_GRAFT_EXTRA_CONF entry '$kv' is not k=v")
        b.config(kv.take(i).trim, kv.drop(i + 1).trim)
      }
      .getOrCreate()
    // getOrCreate may return a pre-existing session built WITHOUT the
    // extensions (shared-JVM tests) — the live-session hook is idempotent
    graft.expressions.GraftExtensions.register(spark)
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
