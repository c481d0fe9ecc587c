package graft.queries

import org.apache.spark.sql.SparkSession
import scala.concurrent.{Await, ExecutionContext, Future, Promise}
import scala.concurrent.duration._
import scala.util.{Failure, Success}

/** Independent chains of Spark jobs run concurrently from driver
  * threads, so one chain's tail back-fills the cores another leaves
  * idle. Each chain runs on its own thread (inheriting the caller's
  * Spark local properties) under its own job group, and every wait is
  * bounded: when a chain throws, or the chains outlive [[Limit]], the
  * other chains' job groups are cancelled, they get [[Grace]] to stop,
  * and the original exception is rethrown.
  */
private[graft] object Chains {

  /** Far above any registry query at any scale-ladder rung: it bounds
    * only a wedged scheduler.
    */
  val Limit: FiniteDuration = 6.hours

  // a chain still running after Grace is left to its daemon thread
  val Grace: FiniteDuration = 5.seconds

  def all[A](spark: SparkSession)(chains: Seq[() => A]): Seq[A] = {
    implicit val ec: ExecutionContext = ExecutionContext.parasitic
    val sc = spark.sparkContext
    val tag = java.util.UUID.randomUUID().toString
    val groups = chains.indices.map(i => s"graft-chain-$tag-$i")
    val futures = chains.zip(groups).map { case (chain, group) =>
      val p = Promise[A]()
      val t = new Thread(() => {
        sc.setJobGroup(group, "concurrent query chain", interruptOnCancel = true)
        p.complete(try Success(chain()) catch { case e: Throwable => Failure(e) })
        ()
      }, group)
      t.setDaemon(true)
      t.start()
      p.future
    }
    // fail fast on the FIRST failure, not after every chain settles
    val firstFailure = Promise[Seq[A]]()
    futures.foreach(_.failed.foreach(e => firstFailure.tryFailure(e)))
    try Await.result(Future.firstCompletedOf(
      Seq(Future.sequence(futures), firstFailure.future)), Limit)
    catch {
      case e: Throwable =>
        // cancel every round: a chain may submit a job after a cancel
        val deadline = Grace.fromNow
        var pending = futures.zip(groups).filterNot(_._1.isCompleted)
        while (pending.nonEmpty && deadline.hasTimeLeft()) {
          pending.foreach { case (_, g) => sc.cancelJobGroup(g) }
          pending.foreach { case (f, _) =>
            try Await.ready(f, deadline.timeLeft.min(1.second).max(Duration.Zero))
            catch { case _: java.util.concurrent.TimeoutException => () }
          }
          pending = pending.filterNot(_._1.isCompleted)
        }
        throw e
    }
  }
}
