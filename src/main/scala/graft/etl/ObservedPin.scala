package graft.etl

import org.apache.spark.sql.{Column, DataFrame, Observation}

/** localCheckpoint a frame with driver-needed aggregates riding the
  * pin's OWN job as observed metrics — the r16 CC convergence-metric
  * fusion packaged for the store-append faces (r17), which otherwise
  * pay one extra job per scalar (a touched-bucket collect before the
  * novelty read, a row count after the novelty pin) on EVERY append /
  * micro-batch.
  *
  * Every window stays closed by fallback, never by failure:
  *  - metric timeout → caller recomputes from the pinned blocks
  *    (None is returned);
  *  - analysis-time rejection of a metric expression → the pin runs
  *    unobserved and None is returned, the pre-fusion shape.
  */
private[graft] object ObservedPin {

  /** Returns the pinned frame and the observed metric row (by metric
    * alias), or None when the metrics could not be read — callers must
    * fall back to explicit jobs over the pinned frame. */
  def apply(df: DataFrame, metrics: Seq[Column])
      : (DataFrame, Option[Map[String, Any]]) =
    try {
      val obs = Observation()
      val pinned = df.observe(obs, metrics.head, metrics.tail: _*)
        .localCheckpoint()
      (pinned, await(obs))
    } catch { case _: org.apache.spark.sql.AnalysisException =>
      (df.localCheckpoint(), None)
    }

  /** The metric row of an observation whose action has run, or None
    * when it is not delivered within a bounded wait — callers fall back
    * to explicit jobs, so a metric timeout never fails the caller. */
  def await(obs: Observation): Option[Map[String, Any]] =
    try {
      import scala.concurrent.{Await, Future, blocking}
      import scala.concurrent.duration._
      import scala.concurrent.ExecutionContext.Implicits.global
      // blocking{} so a timed-out waiter cannot pin a global-pool
      // thread (the r16 ADVICE fix, shared here)
      Some(Await.result(Future(blocking(obs.get)), 60.seconds))
    } catch { case _: java.util.concurrent.TimeoutException => None }

  /** An observed collect_set metric as a Seq of its element values. */
  def values(m: Map[String, Any], key: String): Seq[Any] = m(key) match {
    case s: scala.collection.Seq[_] => s.toSeq
    case other => sys.error(s"unexpected observed metric shape for $key: $other")
  }

  /** An observed count metric as a Long. */
  def long(m: Map[String, Any], key: String): Long =
    m(key).asInstanceOf[Long]
}
