package perfbench

import scala.collection.mutable

import org.apache.spark.sql.catalyst.expressions.Literal
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types.{ArrayType, StringType}
import org.apache.spark.unsafe.types.UTF8String

import graft.functions.{MinHashSig64, ReEncrypt, TimeUuid, Uuid5}
import graft.transform.Rules

/** One output check: its name, verdict and a detail line. */
final case class Check(name: String, passed: Boolean, detail: String)

/** What one pass produced. `commits` are the closed-loop intervals between
  * successive commits (a sink write or a micro-batch), the first measured
  * from the start of the pass.
  */
final case class PassResult(wallS: Double, commits: Seq[Double], checks: Seq[Check],
    extras: Map[String, Double] = Map.empty)

/** A benchmark workload: `setup` generates its inputs from the seed;
  * `pass` runs the workload once, timed from the first source read until
  * its output checks have run.
  */
trait Workload {
  def name: String
  /** Source records one pass consumes, and their bytes on disk. */
  def records: Long
  def sourceBytes: Long
  def setup(round: Int): Unit
  /** Untimed work after set-up that brings the timed pass to steady state. */
  def warmUp(): Unit = ()
  def pass(no: Int): PassResult
  /** Report lines describing the generated input and what was planted. */
  def describe: Seq[String]
  /** Direct single-thread calls of the layer's functions; ns per call. */
  def functionCosts(): Map[String, Double]
}

/** Shared helpers for passes: commit timing and check accounting. */
final class PassClock(trace: Trace) {
  val t0: Long = System.nanoTime()
  private var last = t0
  val commits = mutable.ArrayBuffer.empty[Double]
  val checks = mutable.ArrayBuffer.empty[Check]

  def commit(): Unit = synchronized {
    val now = System.nanoTime()
    commits += (now - last) / 1e9
    last = now
  }

  /** Runs one check as an operation; an exception (which the call has
    * already counted as a failure) fails the check.
    */
  def check(layer: String, name: String)(f: => Check): Unit =
    checks += (try {
      val c = trace.call(layer, name)(f)
      if (!c.passed) trace.fail(s"check $name", c.detail)
      c
    } catch {
      case e: Exception => Check(name, passed = false, s"threw ${e.getClass.getSimpleName}: ${e.getMessage}")
    })

  def result(extras: Map[String, Double] = Map.empty): PassResult =
    PassResult((System.nanoTime() - t0) / 1e9, commits.toSeq, checks.toSeq, extras)
}

/** Per-call cost of a function, single thread: the median over five
  * repetitions of a loop over `inputs`, each repetition at least 20 ms.
  */
object FunctionCost {
  /** Receives every result, so the JIT cannot drop the calls. */
  @volatile private var blackhole = 0

  def nsPerCall[A](trace: Trace, name: String, inputs: Seq[A])(f: A => Any): Double =
    trace.call("functions", name) {
      val arr = inputs.toIndexedSeq
      var reps = 1
      def loop(n: Int): Long = {
        var acc = 0
        val t = System.nanoTime()
        var k = 0
        while (k < n) { arr.foreach(a => acc += f(a).hashCode); k += 1 }
        val ns = System.nanoTime() - t
        blackhole += acc
        ns
      }
      while (loop(reps) < 20000000L) reps *= 2
      Stats.median(Seq.fill(5)(loop(reps).toDouble / (reps.toLong * arr.length)))
    }

  /** All four per-row functions over one workload's own inputs: payloads
    * to re-encrypt, ids to hash, (micros, id) keys for time-based ids, and
    * texts to sign. Each workload measures all four, so a function another
    * workload stresses shows as the flat control here.
    */
  def all(trace: Trace, payloads: Seq[String], ids: Seq[String], keys: Seq[(Long, String)],
      texts: Seq[String]): Map[String, Double] = {
    // the curation signature: hash64 family, 4 bands x 4 rows plus the two
    // guard rows, over each text's distinct word bigrams
    val sig = MinHashSig64(Literal.create(null, ArrayType(StringType)), 18)
    val shingles = texts.map { t =>
      val w = t.toLowerCase.trim.split("\\s+")
      val grams = if (w.length < 2) w.toSeq else w.sliding(2).map(_.mkString(" ")).toSeq
      new GenericArrayData(grams.distinct.map(UTF8String.fromString).toArray[Any])
    }
    Map(
      "functions.reencrypt_ns" -> nsPerCall(trace, "ReEncrypt.migrate", payloads)(
        p => ReEncrypt.migrate(p, Rules.LegacyKey, Rules.NewPassword)),
      "functions.uuid5_ns" -> nsPerCall(trace, "Uuid5.compute", ids.map(UTF8String.fromString))(
        s => Uuid5.compute(s)),
      "functions.timeuuid_ns" -> nsPerCall(trace, "TimeUuid.compute", keys) {
        case (micros, id) => TimeUuid.compute(micros, id)
      },
      "functions.minhash_ns" -> nsPerCall(trace, "MinHashSig64", shingles)(a => sig.evalSig(a)))
  }
}
