package graft.perfbench

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

/** What one workload run needs: the session, the tracer, its own work
  * directory, the seed and the run length. `corrupt` drops one row from
  * an engine result before it is checked (the benchmark's self-check). */
final case class Ctx(spark: SparkSession, tracer: Tracer, work: String,
    seed: Long, seconds: Int, corrupt: Boolean) {
  def dir(name: String): String = s"$work/$name"
}

/** A run's result. `e2e` holds the metrics every workload reports (see
  * `Main.EndToEnd`) but `setup_s`, which `Main` adds from the session
  * start, the fixture build and the warm-up; `named` holds the
  * workload's own metrics. */
final case class Outcome(fixtureS: Double, warmupS: Double,
    e2e: Map[String, Double], named: Map[String, Double],
    samples: Map[String, Seq[Double]], attempted: Int, failed: Int,
    errors: Seq[String])

/** Operation bookkeeping shared by the workloads: every timed call
  * sequence and every correctness check is one attempt; a call that
  * throws or a check that finds a wrong answer is one failure. */
final class OpLog {
  var attempted = 0
  var failed = 0
  val errors = mutable.ArrayBuffer.empty[String]
  private val lat = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[Double]]

  /** Run `body`, record its seconds under `kind`; None if it threw. */
  def op[T](kind: String)(body: => T): Option[T] = {
    attempted += 1
    val t0 = System.nanoTime()
    try {
      val r = body
      lat.getOrElseUpdate(kind, mutable.ArrayBuffer.empty) +=
        (System.nanoTime() - t0) / 1e9
      Some(r)
    } catch {
      case e: Exception =>
        failed += 1
        errors += s"$kind: ${e.getClass.getSimpleName}: ${e.getMessage}"
          .take(400)
        None
    }
  }

  /** One correctness check; a mismatch counts as a failed operation. */
  def check(what: String)(ok: => Boolean): Unit = {
    attempted += 1
    val pass = try ok catch {
      case e: Exception =>
        errors += s"check $what threw: ${e.getMessage}".take(400); false
    }
    if (!pass) { failed += 1; errors += s"check $what: wrong result" }
  }

  /** A wrong answer from an operation already counted as attempted. */
  def wrong(what: String): Unit = {
    failed += 1
    errors += s"$what: wrong result".take(400)
  }

  def samples(kind: String): Seq[Double] = lat.get(kind).fold(Seq.empty[Double])(_.toSeq)
  def p50(kind: String): Double = {
    val s = samples(kind)
    if (s.isEmpty) Double.NaN else Stats.median(s)
  }
  def all: Map[String, Seq[Double]] = lat.map { case (k, v) => k -> v.toSeq }.toMap
}

object Setup {
  /** Run `body` once; its seconds and its result. */
  def timed[T](body: => T): (Double, T) = {
    val t0 = System.nanoTime()
    val r = body
    ((System.nanoTime() - t0) / 1e9, r)
  }

  def seconds(body: => Unit): Double = timed(body)._1
}
