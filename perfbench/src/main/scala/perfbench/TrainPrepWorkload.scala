package perfbench

import java.io.File

import scala.jdk.CollectionConverters._
import scala.util.Random

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}

import graft.operators.TrainPrep
import graft.run.MetricsCollector
import graft.sink.ParquetSink
import graft.streaming.IncrementalMigration

/** A crawl arrives as a few document files, delivered at least once. Each
  * pass drains them through `IncrementalMigration.run(catchUp = true)`, one
  * file per micro-batch, upserting into the staged corpus by document id
  * (`ParquetSink.upsert`, a whole-table read-merge-rewrite per batch). It
  * then runs the training-data preparation pipeline in its production
  * configuration (hash64 curation, Kneser-Ney trigram perplexity gate,
  * SemDeDup, containment and substring removal) over the staged corpus and
  * writes the clean corpus through the overwrite sink.
  */
final class TrainPrepWorkload(spark: SparkSession, work: String, seed: Long, trace: Trace,
    nBase: Int, files: Int) extends Workload {
  import spark.implicits._

  val name = "trainprep"
  private var corpus: Corpus = _
  private var lines = 0L
  private var crawlBytes = 0L
  private var bytes = 0L
  private val crawlDir = s"$work/in/crawl"
  private val embPath = s"$work/in/embeddings"
  private var firstDigest: Option[String] = None
  private val WarmFiles = 3
  private val CrawlSchema = StructType(Seq(StructField("_id", LongType), StructField("text", StringType)))

  def records: Long = lines
  def sourceBytes: Long = bytes

  /** Splits the corpus over the crawl files in id order; each file also
    * redelivers a few documents of the previous one and repeats a few of
    * its own lines.
    */
  def setup(round: Int): Unit = {
    corpus = CorpusGen.generate(seed, nBase)
    Stats.deleteTree(crawlDir)
    val r = new Random(seed)
    val parts = corpus.docs.grouped((corpus.docs.size + files - 1) / files).toVector
    val t0 = System.currentTimeMillis() - files * 1000L
    lines = 0L
    crawlBytes = 0L
    for ((part, i) <- parts.zipWithIndex) {
      val again = if (i == 0) Nil else r.shuffle(parts(i - 1)).take(part.size / 20)
      val out = r.shuffle(part ++ again ++ r.shuffle(part).take(part.size / 20))
      val path = f"$crawlDir/part-$i%04d.json"
      crawlBytes += Json.writeLines(path, out.map { case (id, t) => Obj("_id" -> id, "text" -> t) })
      new File(path).setLastModified(t0 + i * 1000L)
      lines += out.size
    }
    corpus.embeddings.toDF("vec_id", "embedding").coalesce(1).write.mode("overwrite").parquet(embPath)
    bytes = crawlBytes + Stats.dirBytes(embPath)
  }

  def describe: Seq[String] = Seq(
    s"input: ${corpus.docs.size} documents in $files crawl files ($lines lines, $crawlBytes bytes) " +
      s"+ ${corpus.embeddings.size} embeddings, $bytes bytes in all",
    s"planted: exact_dups=${corpus.exactDupIds.size} contained=${corpus.containedIds.size} " +
      s"gated=${corpus.gatedIds.size} sem_groups=${corpus.semGroups}x3 " +
      s"boilerplate_docs=${corpus.boilerplateIds.size}")

  /** Drains the crawl files in `dir` through `IncrementalMigration.run`,
    * one file per micro-batch, upserting each batch into `staging`;
    * `committed` runs after each batch. Returns each batch's progress
    * durations.
    */
  private def ingest(dir: String, staging: ParquetSink, ckpt: String,
      committed: () => Unit): Seq[Map[String, Long]] = {
    val crawl = trace.call("sources", "crawl files") {
      spark.readStream.schema(CrawlSchema).option("maxFilesPerTrigger", 1).json(dir)
    }
    val upsert: (org.apache.spark.sql.DataFrame, Long) => Unit = (batch, id) => {
      trace.call("streaming", s"batch $id") {
        trace.call("sink", "upsert documents")(staging.upsert("documents", batch, Seq("doc_id")))
      }
      committed()
    }
    trace.call("streaming", "IncrementalMigration.run") {
      trace.adoptParent = trace.currentSpan
      try {
        val q = IncrementalMigration.run(crawl, _.withColumnRenamed("_id", "doc_id"), upsert,
          ckpt, catchUp = true)
        trace.aliases(q.runId.toString) = trace.currentSpan
        q.awaitTermination()
        q.recentProgress.toSeq.map(_.durationMs.asScala.map { case (k, v) => k -> v.toLong }.toMap)
      } finally trace.adoptParent = -1
    }
  }

  /** Drains copies of the first [[WarmFiles]] crawl files into a throwaway
    * table, so that the micro-batches of the timed pass run compiled code,
    * as the batches of a long-running ingest do. Without it the median
    * batch interval falls on the step between the first, compiling batches
    * and the rest.
    */
  override def warmUp(): Unit = {
    val dir = s"$work/warm"
    Stats.deleteTree(dir)
    val in = new File(s"$dir/in")
    in.mkdirs()
    Option(new File(crawlDir).listFiles()).toSeq.flatten.filter(_.getName.endsWith(".json"))
      .sortBy(_.getName).take(WarmFiles)
      .foreach(f => java.nio.file.Files.copy(f.toPath, new File(in, f.getName).toPath))
    ingest(in.getPath, new ParquetSink(s"$dir/stage"), s"$dir/ckpt", () => ())
    Stats.deleteTree(dir)
  }

  private val Stages = Seq("input", "curated", "after_sem", "after_lm", "after_contain", "clean")
  private val Removal = Seq("curate", "sem", "lm", "contain", "substring")

  def pass(no: Int): PassResult = {
    Stats.deleteTree(s"$work/stage")
    Stats.deleteTree(s"$work/ckpt")
    val staging = new ParquetSink(s"$work/stage")
    val mc = new MetricsCollector(spark)
    try {
      val before = mc.snapshot.keySet
      val clock = new PassClock(trace)
      val progress = ingest(crawlDir, staging, s"$work/ckpt", () => clock.commit())
      trace.count(clock.commits.size)
      val batches = clock.commits.size

      val docs = trace.call("sources", "documents")(spark.read.parquet(s"$work/stage/documents"))
      val emb = trace.call("sources", "embeddings")(spark.read.parquet(embPath))
      val clean = trace.call("operators", "TrainPrep.pipeline") {
        TrainPrep.pipeline(docs, "doc_id", "text", hash64 = true, lmMaxPpl = Some(1000.0),
          lmKn = true, lmKnOrder = 3, embeddings = Some(emb), semThreshold = Some(0.95))
      }
      trace.call("sink", "clean_corpus")(new ParquetSink(s"$work/out").overwrite("clean_corpus", clean))
      clock.commit()

      val rows = trace.call("bench", "read clean") {
        spark.read.parquet(s"$work/out/clean_corpus").select("doc_id", "clean_text")
          .as[(Long, String)].collect()
      }
      trace.drain()
      val counts = mc.snapshot.toSeq.collect {
        case (n, fields) if n.startsWith("train_prep_") && !before(n) =>
          n.substring(n.indexOf('_', "train_prep_".length) + 1) -> fields("docs").asInstanceOf[Long]
      }.toMap
      val ids = rows.map(_._1).toSet
      val inputIds = corpus.docs.map(_._1).toSet
      def check(name: String)(ok: Boolean, detail: String): Unit =
        clock.check("bench", name)(Check(name, ok, detail))
      check("one-batch-per-file")(batches == files, s"$batches micro-batches for $files files")
      check("stages-reported")(Stages.forall(counts.contains), s"stage counts $counts")
      check("staged=generated")(counts.get("input").contains(corpus.docs.size.toLong),
        s"staged ${counts.get("input")} vs generated ${corpus.docs.size} distinct documents")
      val seq = Stages.flatMap(counts.get)
      check("counts-never-increase")(seq.zip(seq.drop(1)).forall { case (a, b) => b <= a },
        seq.mkString(" >= "))
      check("clean=observed")(counts.get("clean").contains(rows.length.toLong),
        s"clean rows ${rows.length} vs observed ${counts.get("clean")}")
      check("clean-in-input")(ids.subsetOf(inputIds), s"${(ids -- inputIds).size} unknown ids")
      for ((label, planted) <- Seq("exact-dups" -> corpus.exactDupIds,
          "contained" -> corpus.containedIds, "gated" -> corpus.gatedIds)) {
        val left = planted.intersect(ids)
        check(s"$label-removed")(left.isEmpty, s"${left.size}/${planted.size} planted still present")
      }
      val bp = rows.count(_._2.contains(CorpusGen.Boilerplate))
      check("boilerplate-once")(bp <= 1, s"$bp clean docs keep the boilerplate sentence")
      val digest = Stats.digestRows(rows.toSeq.map { case (i, t) => s"$i\u0001$t" })
      if (firstDigest.isEmpty) firstDigest = Some(digest)
      check("digest-stable")(firstDigest.contains(digest), s"$digest vs ${firstDigest.get}")

      val removed = Removal.zip(Stages.zip(Stages.drop(1))).flatMap { case (stage, (in, outS)) =>
        for (a <- counts.get(in); b <- counts.get(outS))
          yield s"operators.removed_frac.$stage" -> (if (a == 0) 0.0 else (a - b).toDouble / a)
      }
      def perBatch(keys: String*): Double =
        if (progress.isEmpty) 0.0
        else progress.map(p => keys.map(k => p.getOrElse(k, 0L)).sum).sum / 1000.0 / progress.size
      clock.result((removed ++ Seq(
        "streaming.trigger_overhead_s" -> (perBatch("triggerExecution") - perBatch("addBatch")),
        "streaming.plan_s" -> perBatch("queryPlanning"),
        "streaming.commit_s" -> perBatch("walCommit", "commitOffsets"),
        "sink.bytes_per_change_byte" -> trace.outBytes("sink", "upsert") / crawlBytes.toDouble)).toMap)
    } finally {
      mc.close()
      spark.catalog.clearCache()
    }
  }

  def functionCosts(): Map[String, Double] = {
    val texts = corpus.docs.map(_._2)
    FunctionCost.all(trace, texts, corpus.docs.map(_._1.toString),
      corpus.docs.map { case (id, _) => (id * 1000000L, id.toString) }, texts)
  }
}
