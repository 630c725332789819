package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite
import scala.jdk.CollectionConverters._

import graft.plans.PlanProbe

/** A query may not change the shared session: `graft.Bench` and
  * `graft.Verify` run every query in name order in one session, so a
  * conf one query leaves behind re-plans every query after it. Each
  * query that registers a catalog or changes a conf runs over a
  * session seeded with a non-default setting, and must leave
  * `spark.conf.getAll` exactly as it found it. A source guard keeps
  * every conf mutation and plan walk in `queries/` going through
  * [[PlanProbe]]. */
class QueryConfLeakSpec extends AnyFunSuite {

  lazy val spark: SparkSession = {
    val s = SparkSession.builder()
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .withExtensions(new graft.expressions.GraftExtensions)
      .master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    graft.expressions.GraftExtensions.register(s)
    s
  }

  private val sf = "/root/testdata/sf0.001"

  private val scoped = Seq(
    "q178_commitlog_sql_catalog", "q179_commitlog_sql_skipping",
    "q180_commitlog_sql_metadata_agg", "q181_commitlog_sql_merge",
    "q182_commitlog_partitioned", "q183_commitlog_deletion_vectors",
    "q184_commitlog_bloom_lookup", "q185_commitlog_update_vectored",
    "q188_commitlog_sql_add_columns", "q190_commitlog_sql_constraints",
    "q192_commitlog_ctas", "q193_commitlog_column_mapping",
    "q200_commitlog_generated_columns", "q202_commitlog_identity",
    "q203_commitlog_column_defaults", "q204_commitlog_constraint_ddl",
    "q205_commitlog_governed_ingest", "q211_commitlog_spj",
    "q212_commitlog_spj_dml", "q214_commitlog_sql_merge_nmbs",
    "q215_commitlog_sql_delete_subquery", "q216_commitlog_spj_multikey",
    "q218_commitlog_maintenance_bucket",
    "q219_commitlog_merge_multiclause",
    "q220_commitlog_merge_schema_evolution",
    "q223_commitlog_sql_delete_correlated",
    "q224_commitlog_sql_update_correlated_scalar",
    "q225_commitlog_merge_evolution_widening",
    "q226_commitlog_optimize_grid_migration",
    "q228_commitlog_sql_merge_subquery_conditions")

  scoped.foreach { name =>
    test(s"$name leaves the session's confs as it found them") {
      // a non-default setting a query must restore, not overwrite
      PlanProbe.withConf(spark,
          "spark.sql.sources.v2.bucketing.enabled" -> "false") {
        val before = spark.conf.getAll
        SparkEntry.queries(name)(spark, sf)
        val after = spark.conf.getAll
        val diff = (before.keySet ++ after.keySet)
          .filter(k => before.get(k) != after.get(k)).toSeq.sorted
          .map(k => s"$k: ${before.get(k)} -> ${after.get(k)}")
        assert(diff.isEmpty, s"$name changed the session: $diff")
      }
    }
  }

  test("queries/ mutates confs and walks plans only through PlanProbe") {
    val root = new java.io.File("src/main/scala/graft/queries")
    val files = Option(root.listFiles).toSeq.flatten
      .filter(_.getName.endsWith(".scala"))
    assert(files.nonEmpty, s"no sources under ${root.getAbsolutePath}")
    val banned = Seq("conf.set(", "conf.unset(", "ShuffleExchangeLike",
      "AdaptiveSparkPlanExec")
    val hits = for {
      f <- files.sortBy(_.getName)
      (line, i) <- java.nio.file.Files.readAllLines(f.toPath).asScala
        .toSeq.zipWithIndex
      b <- banned if line.contains(b)
    } yield s"${f.getName}:${i + 1}: $b"
    assert(hits.isEmpty, hits.mkString(
      s"${hits.size} hand-rolled conf/plan-walk sites:\n", "\n", ""))
  }
}
