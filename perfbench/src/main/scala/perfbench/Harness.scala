package perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.{AtomicInteger, AtomicLong}
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal
import org.apache.spark.sql.SparkSession

/** One executed op: a query, a catalog action or an ingest step. */
final case class OpRecord(id: Long, kind: String, startNs: Long, endNs: Long, outcome: Outcome, timed: Boolean) {
  def seconds: Double = (endNs - startNs) / 1e9
}

/** What a workload needs from the run: the session, the tracer, the
  * seed and its own scratch directory, plus the op runner that times,
  * tags and checks every op.
  */
final class Harness(
    val spark: SparkSession,
    val tracer: Tracer,
    val seed: Long,
    val root: java.nio.file.Path,
    val work: java.nio.file.Path
) {
  private val nextId = new AtomicLong(0)
  private val records = new ConcurrentLinkedQueue[OpRecord]()
  private val errorsLogged = new AtomicInteger(0)
  @volatile var timed = false
  /** Properties of the generated inputs, for the run record. */
  val inputs = new java.util.concurrent.ConcurrentHashMap[String, Any]()

  def data: java.nio.file.Path = root.resolve("perfbench").resolve("data")

  /** Run one op. The body returns the output check's verdict; a throw
    * counts as a failed op. In the traced run the op's Spark jobs carry
    * the tag `perfbench-op-<id>`. */
  def op(kind: String)(body: => Outcome): Outcome = {
    val id = nextId.incrementAndGet()
    val tag = s"perfbench-op-$id"
    val sc = spark.sparkContext
    if (tracer.enabled) sc.addJobTag(tag)
    tracer.beginOp(id)
    val t0 = System.nanoTime()
    val out =
      try body
      catch {
        case NonFatal(e) =>
          if (errorsLogged.incrementAndGet() <= 5) {
            System.err.println(s"[perfbench] $kind op $id failed: $e")
            e.printStackTrace()
          }
          Outcome.error
      }
    val t1 = System.nanoTime()
    tracer.endOp()
    if (tracer.enabled) sc.removeJobTag(tag)
    if (out.wrong > 0 && errorsLogged.incrementAndGet() <= 5)
      System.err.println(s"[perfbench] $kind op $id: output check failed")
    records.add(OpRecord(id, kind, t0, t1, out, timed))
    out
  }

  def ops: Seq[OpRecord] = records.asScala.toSeq

  /** Record a check that is not an op of its own (end-of-run state). */
  def check(kind: String, passed: Boolean, detail: => String): Unit = {
    if (!passed) System.err.println(s"[perfbench] $kind check failed: $detail")
    records.add(OpRecord(nextId.incrementAndGet(), kind, 0L, 0L, Outcome.check(passed), timed = false))
  }

  /** Run the parts of the current op on threads of their own, each
    * tagged and traced as part of that op; returns their results. */
  def parallelParts[A, B](a: => A, b: => B): (A, B) = {
    val id = tracer.currentOp
    def part[T](body: => T): java.util.concurrent.FutureTask[T] = {
      val t = new java.util.concurrent.FutureTask[T](() => {
        tracer.beginOp(id)
        if (tracer.enabled) spark.sparkContext.addJobTag(s"perfbench-op-$id")
        try body
        finally {
          if (tracer.enabled) spark.sparkContext.removeJobTag(s"perfbench-op-$id")
          tracer.endOp()
        }
      })
      new Thread(t, s"perfbench-op-$id-part").start()
      t
    }
    val fa = part(a)
    val fb = part(b)
    def get[T](f: java.util.concurrent.FutureTask[T]): T =
      try f.get() catch { case e: java.util.concurrent.ExecutionException => throw e.getCause }
    (get(fa), get(fb))
  }

  /** Run `clients` threads that each take work from `next` until it
    * returns None. */
  def closedLoop[T](clients: Int)(next: () => Option[T])(run: T => Unit): Unit = {
    val threads = (0 until clients).map { i =>
      val t = new Thread(() => {
        var item = next()
        while (item.isDefined) { run(item.get); item = next() }
      }, s"perfbench-client-$i")
      t.start()
      t
    }
    threads.foreach(_.join())
  }
}

/** A named workload: set-up (inputs and warm-up) then the timed loop. */
trait Workload {
  def name: String
  /** Generate inputs and warm up. Everything here counts toward setup_s. */
  def setup(h: Harness): Unit
  /** Run the timed loop for at least `seconds`, ending on a boundary
    * the workload chooses so that every run measures the same mix. */
  def measure(h: Harness, seconds: Double): Unit
  /** End-of-run output checks (outside the timed window). */
  def finish(h: Harness): Unit = ()
  /** Workload-specific end-to-end values (beyond the shared ones). */
  def extraEndToEnd(h: Harness, timedOps: Seq[OpRecord]): Map[String, Double] = Map.empty
}
