package perfbench

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.GraftFunctions
import graft.model.Destination
import graft.post.Denormalize
import graft.run.{EntityStages, Pipeline}
import graft.sink.{CqlLayouts, ParquetSink}
import graft.sources.JsonSource
import graft.transform.Rules
import graft.validate.{CheckResult, Checks}

/** The reference's own job: all 15 entity stages over the generated Mongo
  * export into an overwrite sink, the post-migration denormalization, then
  * the validation suite.
  */
final class MigrationWorkload(spark: SparkSession, work: String, seed: Long, trace: Trace,
    nMessages: Int) extends Workload {
  val name = "migration"
  private var input: MigrationInput = _
  private val out = s"$work/out"

  def records: Long = input.records
  def sourceBytes: Long = input.bytes

  def setup(round: Int): Unit = {
    Stats.deleteTree(s"$work/in")
    input = MigrationGen.generate(s"$work/in", seed, nMessages)
  }

  def describe: Seq[String] = Seq(
    s"input: ${input.records} documents in 13 collections, ${input.bytes} bytes " +
      input.docs.toSeq.sortBy(_._1).map { case (k, v) => s"$k=$v" }.mkString("(", " ", ")"),
    s"planted: users=${input.users} messages_kept=${input.messagesKept} " +
      s"reencrypted_kept=${input.encryptedKept} profession_links=${input.professionLinks} " +
      s"entity_links=${input.entityLinks}")

  def pass(no: Int): PassResult = {
    val src = new JsonSource(spark, input.dir)
    val sink = new ParquetSink(out)
    val clock = new PassClock(trace)

    val source: String => DataFrame = coll =>
      trace.call("sources", coll)(EntityStages.normalizeTimestamps(src.collection(coll)))
    val write: (String, Destination, DataFrame) => Unit = (entity, dest, df) => {
      val table = s"${dest.toString.toLowerCase}/$entity"
      trace.call("sink", table)(sink.overwrite(table, df))
      clock.commit()
    }
    val stages = EntityStages.all.map { case (n, stage) =>
      n -> ((s: DataFrame, dims: Map[String, DataFrame]) => trace.call("transform", n)(stage(s, dims)))
    }
    val results = trace.call("run", "Pipeline.run") {
      new Pipeline(spark, source, write).run(stages)
    }
    def res(e: String, d: Destination = Destination.Postgres) = results((e, d))
    val rooms = res("room", Destination.Cassandra)
    val participants = res("room_member", Destination.Cassandra)
    val messages = res("message", Destination.Cassandra)
    val cassUsers = res("user", Destination.Cassandra)

    // post spans own their tables' materialization: building the frame is
    // lazy, so the write is where the denormalization runs
    def post(table: String)(build: => DataFrame, writeOut: DataFrame => Unit): Unit = {
      trace.call("post", table)(writeOut(build))
      clock.commit()
    }
    post("roomsByUser")(Denormalize.roomsByUser(participants, rooms, messages, cassUsers),
      CqlLayouts.write(_, s"$out/cassandra", "rooms_by_user"))
    post("p2pLookup")(Denormalize.p2pLookup(rooms, participants),
      sink.overwrite("cassandra/p2p_room_by_users", _))
    post("membershipLookup")(Denormalize.refreshMembershipLookup(
      Denormalize.membershipLookup(participants), spark.read.parquet(s"$out/cassandra/rooms_by_user")),
      sink.overwrite("cassandra/room_membership_lookup", _))
    post("roomsByMongo")(Denormalize.roomsByMongo(rooms), sink.overwrite("cassandra/rooms_by_mongo", _))
    post("roomByMessage")(Denormalize.roomByMessage(messages),
      sink.overwrite("cassandra/room_by_message", _))
    post("organizations")(Rules.organizations(rooms), sink.overwrite("cassandra/organizations", _))

    val pgUsers = res("user")
    val pgDocs = res("docs")
    def v(r: => CheckResult): Check = { val c = r; Check(c.name, c.passed, c.detail) }
    def check(name: String)(r: => CheckResult): Unit = clock.check("validate", name)(v(r))
    val salsaLeft = (c: String) =>
      GraftFunctions.salsa20Decrypt(col(c), lit(Rules.LegacyKey)).isNotNull
    check("users=generated")(Checks.cardinalityEquals("users=generated", input.users, pgUsers.count()))
    check("messages=planted")(Checks.cardinalityEquals("messages=planted",
      input.messagesKept, messages.count()))
    check("m2m-profession=planted")(Checks.cardinalityEquals("m2m-profession=planted",
      input.professionLinks, res("profession_user").count()))
    check("reencrypted=planted")(Checks.cardinalityEquals("reencrypted=planted",
      input.encryptedKept, messages.filter(col("content_decrypted") =!= "").count()))
    check("no-salsa20-left")(Checks.absence("no-salsa20-left", messages,
      salsaLeft("content") || salsaLeft("file_url")))
    check("room-uuid5")(Checks.uuid5Oracle("room-uuid5", rooms, "mongo_id", "room_id"))
    check("message-sender-fk")(Checks.fkIntegrity("message-sender-fk", messages, cassUsers,
      "sender_id", "user_id"))
    check("docs-folders-fk")(Checks.fkIntegrity("docs-folders-fk",
      pgDocs.filter(col("onFolder") =!= 0), pgDocs.filter(col("type") === "FOLDER"), "onFolder", "id"))
    check("rbu-clustering")(Checks.clusteringOrder("rbu-clustering",
      spark.read.parquet(s"$out/cassandra/rooms_by_user"), CqlLayouts.all("rooms_by_user").clustering))
    val result = clock.result()
    spark.catalog.clearCache()
    result
  }

  def functionCosts(): Map[String, Double] =
    FunctionCost.all(trace, input.payloads, input.roomIds, input.messageKeys, input.payloads)
}
