package graft.run

import java.util.concurrent.{ConcurrentLinkedQueue, Executors}

import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration.Duration

import org.apache.spark.GraftListenerBridge
import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.model.{Destination, Entities}

/** Host-level orchestration (SURVEY.md §3.1). The reference runs its
  * entities strictly one at a time for FK integrity (`settings.py:136-137`,
  * `orchestrator.py:181-188`); here the FK edges of
  * [[EntityStages.dependencies]], limited to the scheduled entities, form a
  * DAG and each entity starts as soon as every entity it depends on has
  * been written. Every source frame is requested up front, and the frames
  * of a dual-destination entity are written concurrently. A stage sees as
  * `dims` exactly the results of its declared dependency closure (the
  * reference's warm id cache, `orchestrator.py:86-102`), so an undeclared
  * read fails loudly. Work runs on pool threads that carry the caller's
  * Spark local properties (its job group). `dryRun` mirrors
  * extract+transform-without-load (`run_etl.py:67-71`).
  *
  * Failure: an entity whose source, stage or sink throws fails, and none of
  * its dependents' stages or sinks run. Entities already running, or
  * independent of it, finish; then `run` rethrows the exception of the
  * first failed entity in catalog order, and no pool thread outlives it.
  */
final class Pipeline(
    spark: SparkSession,
    source: String => DataFrame,
    sink: (String, Destination, DataFrame) => Unit,
    dryRun: Boolean = false,
    collector: Option[MetricsCollector] = None) {

  /** One per-entity stage: given (sourceDF, dims) produce the final frame
    * per destination.
    */
  type Stage = (DataFrame, Map[String, DataFrame]) => Map[Destination, DataFrame]

  @volatile private var metrics = Map.empty[String, Long]

  /** Run the entities that have a stage (partial runs, like the reference's
    * `--entities` flag) in dependency order.
    */
  def run(stages: Map[String, Stage]): Map[(String, Destination), DataFrame] = {
    // S13: per-entity row counts ride the sink action itself as observed
    // metrics — a separate count() per entity would be a second full pass
    // over every frame (×15 entities; prohibitive when a frame is 100 TB).
    val mc = collector.getOrElse(new MetricsCollector(spark))
    val threads = new ConcurrentLinkedQueue[Thread]()
    val pool = Executors.newCachedThreadPool { r =>
      val t = new Thread(r, "graft-pipeline"); t.setDaemon(true); threads.add(t); t
    }
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(
      GraftListenerBridge.withCallerLocalProperties(spark.sparkContext, pool))
    def await[T](f: Future[T]): T = Await.result(f, Duration.Inf)
    def label(entity: String, dest: Destination) = s"$entity/${dest.toString.toLowerCase}"
    try {
      val scheduled = Entities.ordered.filter(e => stages.contains(e.name))
      val sources = scheduled.map(e => e.name -> Future(source(e.mongo))).toMap
      val written = scheduled.foldLeft(Map.empty[String, Future[Map[Destination, DataFrame]]]) {
        (acc, cfg) =>
          val parents = EntityStages.closure(EntityStages.dependencies.getOrElse(cfg.name, Nil))
            .toSeq.filter(stages.contains).map(p => p -> acc(p))
          acc + (cfg.name -> Future {
            val dims = Pipeline.dims(parents.map { case (p, f) => p -> await(f) })
            val writes = stages(cfg.name)(await(sources(cfg.name)), dims).map { case (dest, df) =>
              // cache: later entities broadcast-join against this result,
              // and the sink re-reads it (K3: ids are computed once); the
              // write doubles as the materializing action, and dry runs
              // still materialize so dims are warm and the observation fires
              val cached = mc.observeRows(df, label(cfg.name, dest)).cache()
              dest -> Future { if (!dryRun) sink(cfg.name, dest, cached) else cached.count(); cached }
            }
            writes.map { case (dest, f) => dest -> await(f) }
          })
      }
      val results = for (e <- scheduled; (dest, df) <- await(written(e.name)))
        yield (e.name, dest) -> df
      // observations arrive through the listener bus: drain it once, then a
      // written frame without a count is an error, not a missing entry
      GraftListenerBridge.waitListenerBusEmpty(spark.sparkContext)
      val seen = mc.snapshot
      val labels = results.map { case ((e, dest), _) => label(e, dest) }
      val lost = labels.filterNot(seen.contains)
      if (lost.nonEmpty)
        throw new IllegalStateException(s"no row count observed for ${lost.mkString(", ")}")
      metrics = labels.map(l => l -> seen(l)("rows").asInstanceOf[Long]).toMap
      results.toMap
    } finally {
      pool.shutdown()
      threads.forEach(_.join())
      if (collector.isEmpty) mc.close()
    }
  }

  /** Per-entity row counts (`etl/utils/metrics.py` parity). */
  def report: Map[String, Long] = metrics
}

object Pipeline {
  /** Entity results as stage `dims`: "name" (the Postgres result preferred —
    * FK resolution targets the relational ids, like the reference's
    * pg_id_mapper) and "name:postgres"/"name:cassandra".
    */
  def dims(results: Seq[(String, Map[Destination, DataFrame])]): Map[String, DataFrame] =
    results.flatMap { case (name, out) =>
      (name -> out.getOrElse(Destination.Postgres, out.head._2)) +:
        out.toSeq.map { case (d, df) => s"$name:${d.toString.toLowerCase}" -> df }
    }.toMap

  /** Parquet-backed sink for the hermetic build (S6/S9 stand-in). */
  def parquetSink(baseDir: String): (String, Destination, DataFrame) => Unit =
    (entity, dest, df) =>
      df.write.mode("overwrite").parquet(s"$baseDir/${dest.toString.toLowerCase}/$entity")
}
