package graft

import org.apache.spark.sql.functions._

import graft.transform.{DocsHierarchy, Projections, Rules}

/** Two-phase hierarchical docs parity: level-ordered folder ids, parent
  * resolution, file path→id with miss→root, docs_roles from both phases.
  */
class DocsHierarchySpec extends SparkSpecBase {
  import spark.implicits._

  private def docsFixture() = {
    val json = Seq(
      """{"_id":"f1","name":"docs","type":"FOLDER","onFolder":"/","isActive":true,"specialRole":"ro9"}""",
      """{"_id":"f2","name":"legal","type":"FOLDER","onFolder":"/docs","isActive":true}""",
      """{"_id":"f3","name":"deep","type":"FOLDER","onFolder":"/docs/legal","isActive":true}""",
      """{"_id":"a1","title":"contrato","fileType":"PDF","onFolder":"/docs/legal","isActive":true}""",
      """{"_id":"a2","title":"suelto","fileType":"PDF","onFolder":"/fantasma","isActive":true}""",
      """{"_id":"a3","title":"raiz","fileType":"PDF","isActive":true,"specialRole":"ro9"}""")
    spark.read.json(json.toDS)
  }

  test("folders get level-ordered ids, parents resolve, files map with miss→root") {
    val roleDim = Seq(("ro9", 99L)).toDF("mongo_id", "id")
    val ruled = Rules.docsRules(Projections.docsPostgres(docsFixture()), roleDim = Some(roleDim))
    val result = DocsHierarchy.resolve(ruled)
    val docs = result.docs.orderBy("mongo_id").collect()
      .map(r => r.getAs[String]("mongo_id") ->
        (Option(r.getAs[java.lang.Long]("id")), r.getAs[Long]("onFolder"))).toMap

    // folders: /docs id=1 (depth 1), /docs/legal id=2, /docs/legal/deep id=3
    assert(docs("f1") === (Some(1L), 0L)) // parent '/' -> root 0
    assert(docs("f2") === (Some(2L), 1L)) // parent /docs -> 1
    assert(docs("f3") === (Some(3L), 2L)) // parent /docs/legal -> 2
    // files: resolved path, unknown path -> 0, absent path -> 0
    assert(docs("a1")._2 === 2L)
    assert(docs("a2")._2 === 0L)
    assert(docs("a3")._2 === 0L)
    assert(docs("a1")._1.isEmpty) // files keep sink-assigned ids

    // docs_roles from a folder (phase 1) and a file (phase 2)
    val roles = result.docsRoles.orderBy("mongo_id").collect()
      .map(r => (r.getString(0), r.getLong(1))).toSeq
    assert(roles === Seq(("a3", 99L), ("f1", 99L)))
  }

  /** Every (mongo_id, id, onFolder) row `resolve` emits for the fixture,
    * sorted; files carry no id.
    */
  private def placed(json: String*): Seq[(String, Option[Long], Long)] =
    DocsHierarchy.resolve(Rules.docsRules(Projections.docsPostgres(spark.read.json(json.toDS))))
      .docs.select(col("mongo_id"), col("id"), col("onFolder")).collect().toSeq
      .map(r => (r.getString(0), Option(r.get(1)).map(_.asInstanceOf[Long]), r.getLong(2)))
      .sorted

  private def folder(id: String, name: String, parent: String) =
    s"""{"_id":"$id","name":"$name","type":"FOLDER","onFolder":"$parent","isActive":true}"""
  private def file(id: String, parent: Option[String]) =
    s"""{"_id":"$id","title":"t$id","fileType":"PDF",""" +
      parent.fold("")(p => s""""onFolder":"$p",""") + """"isActive":true}"""

  test("identity: folders nested three deep, files at every level") {
    // ids follow path order (/a < /a/b < /a/b/c < /z), each parent resolves
    assert(placed(
      folder("c", "c", "/a/b"), folder("a", "a", "/"), folder("b", "b", "/a"),
      folder("z", "z", "/"), file("x1", Some("/a")), file("x2", Some("/a/b")),
      file("x3", Some("/a/b/c")), file("x4", Some("/z"))) === Seq(
      ("a", Some(1L), 0L), ("b", Some(2L), 1L), ("c", Some(3L), 2L),
      ("x1", None, 1L), ("x2", None, 2L), ("x3", None, 3L), ("x4", None, 4L),
      ("z", Some(4L), 0L)))
  }

  test("identity: a dangling parent path resolves to the root") {
    assert(placed(
      folder("a", "a", "/"), folder("g", "g", "/ghost"), folder("h", "h", "/ghost/g"),
      file("x1", Some("/ghost")), file("x2", Some("/ghost/g")), file("x3", Some("/a/missing"))) ===
      Seq(("a", Some(1L), 0L), ("g", Some(2L), 0L), ("h", Some(3L), 2L),
        ("x1", None, 0L), ("x2", None, 2L), ("x3", None, 0L)))
  }

  test("identity: root-level files, with '/', empty or absent parent paths") {
    assert(placed(
      folder("a", "a", "/"), file("x1", Some("/")), file("x2", Some("")), file("x3", None),
      file("x4", Some("/a"))) ===
      Seq(("a", Some(1L), 0L), ("x1", None, 0L), ("x2", None, 0L), ("x3", None, 0L),
        ("x4", None, 1L)))
  }

  test("identity: duplicate folder paths") {
    // d1 and d2 share the path /dup and take ids 1 and 2 in either order
    // (a tie in the id sequence). Whatever sits directly under /dup
    // resolves against both, so it appears once per duplicate; /dup/kid is
    // unique, so the file under it appears once.
    val rows = placed(
      folder("d1", "dup", "/"), folder("d2", "dup", "/"), folder("k", "kid", "/dup"),
      file("x1", Some("/dup")), file("x2", Some("/dup/kid")))
    val (dups, rest) = rows.partition(r => r._1 == "d1" || r._1 == "d2")
    assert(dups.map(r => (r._2, r._3)).sorted === Seq((Some(1L), 0L), (Some(2L), 0L)))
    assert(rest === Seq(
      ("k", Some(3L), 1L), ("k", Some(3L), 2L),
      ("x1", None, 1L), ("x1", None, 2L),
      ("x2", None, 3L)))
  }
}
