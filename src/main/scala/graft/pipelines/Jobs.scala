package graft.pipelines

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.operators.IdempotentInsert
import graft.pipelines.Orchestrator.PipelineJob
import graft.sources.Catalog

/** The reference's five named pipelines (`Executavel do ETL.py:46-67`)
  * re-expressed over the engine catalog. Only `alimentacao_parcela_ciot`
  * has a real implementation in the reference (`SELECT.py`); the other
  * four are view-materialization jobs implied by their labels/tooltips
  * (SURVEY §0) — here they materialize the corresponding enriched
  * views to parquet with the idempotent sink where a key applies.
  */
object Jobs {

  /** O1: build the standard registry for a source dir + output dir. */
  def standardJobs(sfDir: String, outDir: String): Seq[PipelineJob] = Seq(
    PipelineJob("alimentacao_view_manifestos",
      "Manifestos", "Materializa a view de manifestos",
      s => materialize(s, outDir + "/view_manifestos",
        manifestosView(s, sfDir))),
    PipelineJob("alimentacao_view_movimento",
      "Movimento", "Materializa a view de movimentos",
      s => materialize(s, outDir + "/view_movimento",
        movimentoView(s, sfDir))),
    PipelineJob("alimentacao_view_manifestomovimento",
      "Manifesto x Movimento", "Associação manifesto↔movimento",
      s => materialize(s, outDir + "/view_manifestomovimento",
        manifestoMovimentoView(s, sfDir))),
    PipelineJob("alimentacao_view_adicionais",
      "Adicionais", "Colunas suplementares",
      s => materialize(s, outDir + "/view_adicionais",
        adicionaisView(s, sfDir))),
    PipelineJob("alimentacao_parcela_ciot",
      "Parcela CIOT", "Importação idempotente de parcelas CIOT",
      s => {
        // the sink PK is (id_manifesto, cd_parcela) — the reference's
        // ON CONFLICT target (SELECT.py:119,217). The insert keeps ONE
        // deterministic representative (greatest payload struct) of the
        // rows sharing an unseen PK, matching the reference's keep-first
        // uniqueness semantics without its batch-order nondeterminism.
        // The sink keeps no row order, so the rows skip the query's R15
        // global sort.
        IdempotentInsert.intoParquet(s, ParcelaCiot.rows(s, sfDir),
          outDir + "/parcela_ciot", keys = Seq("id_manifesto", "cd_parcela"))
        ()
      }))

  /** EP2's DAG generalization: the standard registry's TABLE
    * dependencies (SURVEY §3 EP2 — the reference runs the five jobs
    * in config-insertion order precisely because manifesto-movimento
    * consumes what manifestos/movimento produce, `ETL.py:48-58`).
    * Expressed declaratively, [[Orchestrator.PipelineRunner.runDag]]
    * recovers the reference's order on the chain while letting the
    * independent branches (adicionais, parcela_ciot) proceed past an
    * unrelated failure instead of aborting the whole queue. */
  val standardDeps: Map[String, Seq[String]] = Map(
    "alimentacao_view_manifestomovimento" -> Seq(
      "alimentacao_view_manifestos", "alimentacao_view_movimento"))

  private def materialize(s: SparkSession, path: String,
      df: org.apache.spark.sql.DataFrame): Unit =
    df.write.mode("overwrite").parquet(path)

  /** Manifests enriched with the customer dim chain (R2 shape). */
  def manifestosView(s: SparkSession, dir: String) =
    Catalog.table(s, dir, "orders")
      .join(Catalog.table(s, dir, "customer"),
        col("o_custkey") === col("c_custkey"))
      .join(Catalog.table(s, dir, "nation"),
        col("c_nationkey") === col("n_nationkey"))
      .join(Catalog.table(s, dir, "region"),
        col("n_regionkey") === col("r_regionkey"))
      .select(col("o_orderkey"), col("o_custkey"), col("c_name"),
        col("n_name").as("nation"), col("r_name").as("region"),
        col("o_orderdate"), col("o_totalprice"))

  /** Movements enriched with part + supplier dims. */
  def movimentoView(s: SparkSession, dir: String) =
    Catalog.table(s, dir, "lineitem")
      .join(Catalog.table(s, dir, "part"),
        col("l_partkey") === col("p_partkey"))
      .join(Catalog.table(s, dir, "supplier"),
        col("l_suppkey") === col("s_suppkey"))
      .select(col("l_orderkey"), col("l_linenumber"), col("p_name"),
        col("s_name"), col("l_quantity"), col("l_extendedprice"),
        col("l_shipdate"))

  /** The m:n bridge (manifest ↔ movement association). */
  def manifestoMovimentoView(s: SparkSession, dir: String) =
    Catalog.table(s, dir, "orders").select("o_orderkey", "o_custkey")
      .join(Catalog.table(s, dir, "lineitem")
        .select("l_orderkey", "l_linenumber", "l_suppkey"),
        col("o_orderkey") === col("l_orderkey"))
      .select(col("o_orderkey"), col("l_linenumber"), col("o_custkey"),
        col("l_suppkey"))

  /** Supplementary columns view. */
  def adicionaisView(s: SparkSession, dir: String) =
    Catalog.table(s, dir, "orders")
      .select(col("o_orderkey"), col("o_orderstatus"),
        col("o_orderpriority"))

  /** O1 first-run behavior (`ETL.py:27-32,42-81`): load the registry
    * from a JSON config file; if the file does not exist, write the
    * example config for the standard jobs and load that. An
    * unparseable existing file is a hard error, never silently
    * replaced. */
  def loadOrInit(path: java.nio.file.Path, sfDir: String, outDir: String)
      : Seq[PipelineJob] = {
    if (!java.nio.file.Files.exists(path)) {
      val example = standardJobs(sfDir, outDir).map { j =>
        s"""  "${j.name}": {"label": "${j.label}", "tooltip": "${j.tooltip}"}"""
      }.mkString("{\n", ",\n", "\n}\n")
      java.nio.file.Files.createDirectories(path.toAbsolutePath.getParent)
      java.nio.file.Files.writeString(path, example)
    }
    fromConfig(java.nio.file.Files.readString(path), sfDir, outDir)
  }

  /** O1: registry from a JSON config `{name: {label, tooltip}}` —
    * mirrors the reference's config file shape (`ETL.py:42-81`): names
    * must resolve against the known job implementations; a bad file or
    * unknown job is a hard error (no silent skip, `ETL.py:27-32`). */
  def fromConfig(json: String, sfDir: String, outDir: String)
      : Seq[PipelineJob] = {
    val known = standardJobs(sfDir, outDir).map(j => j.name -> j).toMap
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    val root =
      try mapper.readTree(json)
      catch {
        case e: Exception =>
          throw new IllegalArgumentException(
            s"unparseable pipeline config: ${e.getMessage}", e)
      }
    require(root != null && root.isObject, "pipeline config must be a JSON object")
    root.properties().asScala.toSeq.map { entry =>
      val name = entry.getKey
      val base = known.getOrElse(name,
        throw new IllegalArgumentException(s"unknown pipeline job: $name"))
      val node = entry.getValue
      base.copy(
        label = Option(node.get("label")).map(_.asText).getOrElse(base.label),
        tooltip = Option(node.get("tooltip")).map(_.asText)
          .getOrElse(base.tooltip))
    }
  }
}
