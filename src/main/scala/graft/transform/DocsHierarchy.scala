package graft.transform

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.operators.Relational

/** The reference's two-phase hierarchical docs migration
  * (`etl/orchestrator.py:743-1000`): Mongo stores folder membership as
  * string paths; the relational target wants integer folder ids.
  *
  * Phase 1 — folders: full_path = parent + '/' + name (`:839-845`); the
  * reference assigns ids level by level and resolves each level's parent
  * against the accumulated path→id map with miss→root (`:778-786`,
  * `:834-835`). A parent sits one level above its child, so resolving every
  * folder against the complete map gives the same parents: ids follow path
  * order and one path→id map serves both phases. Phase 2 — files left-join
  * the same map, miss→0 (`:914-923`). Role relations from both phases union
  * into docs_roles (`:961-987`, U1).
  *
  * Folder ids are minted with a global sequence — folders are dim-sized by
  * nature (path components, not corpus size), the one place W2 sequences
  * are allowed (SURVEY.md §7.4 risk 8).
  */
object DocsHierarchy {

  final case class Result(docs: DataFrame, docsRoles: DataFrame)

  /** @param docsRuled output of [[Rules.docsRules]] (keeps `_tmp_on_folder`,
    *                  and `special_role_id` when a role dim was supplied)
    */
  def resolve(docsRuled: DataFrame): Result = {
    val withParent = docsRuled.withColumn("fparent",
      coalesce(Shape.nullIfEmpty(col("_tmp_on_folder")), lit("/")))

    // F6 — folder/file partition (type already collapses fileType||type)
    val folders = withParent.filter(col("type") === "FOLDER")
    val files = withParent.filter(col("type") =!= "FOLDER")

    val folderNodes = Relational.sequentialIds(
        folders.withColumn("fpath", graft.functions.Scalars.pathConcat(col("fparent"), col("name"))),
        "fpath", "__folder_id", 0L)
      .withColumn("__folder_id", col("__folder_id").cast("long"))

    // the one path -> id map both phases resolve against: a folder's and a
    // file's parent path each left-join it once, miss -> root (0)
    val pathToId = broadcast(folderNodes.select(
      col("fpath").as("__parent_path"), col("__folder_id").as("__parent_id")))
    def place(df: DataFrame, id: Column): DataFrame = df
      .join(pathToId, col("fparent") === col("__parent_path"), "left")
      .withColumn("onFolder", coalesce(col("__parent_id"), lit(0L)))
      .withColumn("id", id)
      .drop("fpath", "__folder_id", "fparent", "__parent_path", "__parent_id")
    val placed = place(folderNodes, col("__folder_id"))
      .unionByName(place(files, lit(null).cast("long"))) // files keep sink-assigned ids

    val docsRoles =
      if (docsRuled.columns.contains("special_role_id"))
        placed.filter(col("special_role_id").isNotNull)
          .select(col("mongo_id"), col("special_role_id").as("role_id"))
      else
        docsRuled.sparkSession.emptyDataFrame

    Result(placed.drop(docsRuled.columns.filter(_.startsWith("_tmp_")): _*), docsRoles)
  }
}
