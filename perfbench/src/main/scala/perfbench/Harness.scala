package perfbench

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

/** One op of a workload: `kind` is read, write or maint. `call` makes the
  * program calls and returns the check of their result; only `call` is
  * timed, the check runs after the op's end timestamp. */
final case class Op(kind: String, name: String, call: () => () => Boolean)

/** One completed op: wall interval in ns and whether it passed. */
final case class OpRecord(id: Long, kind: String, name: String,
    start: Long, end: Long, ok: Boolean) {
  def ms: Double = (end - start) / 1e6
}

/** A timed closed loop: the ops, the failures' messages and the loop
  * start (ns). */
final case class Loop(ops: Seq[OpRecord], failures: Seq[String], start: Long) {
  /** Checked ops per second of the timed run, from its start to the end
    * of its last op. */
  def opsPerS: Double =
    if (ops.isEmpty) 0.0 else ops.count(_.ok) / ((ops.map(_.end).max - start) / 1e9)
}

/** Everything a workload needs from the harness. */
final case class Ctx(spark: SparkSession, seed: Long, work: java.nio.file.Path,
    tracer: Tracer, cores: Int, scale: Double)

trait Workload {
  /** Closed-loop client threads (never more than the cores). */
  def clients: Int
  /** Builds copy `copy` of the fixture, in a directory of its own. Set-up
    * builds [[Workload.Copies]] copies and reports the median build time;
    * the ops use the last copy. */
  def setup(copy: Int): Unit
  /** Runs once after set-up, untimed by the loop, so the timed ops find
    * the code paths they take compiled; part of set-up time. */
  def warmUp(): Unit = ()
  /** Client `client`'s k-th op; a pure function of the seed, the client
    * and k, so every run of a seed issues the same inputs in the same
    * order on each client. Inputs are made here, outside the timed call. */
  def op(client: Int, k: Long): Op
  /** End-to-end figures only this workload has (name -> (value, unit)). */
  def extraMetrics(): Map[String, (Double, String)] = Map.empty
  /** Program behaviour the workload checks once a run, outside its ops
    * and untimed (name -> what it saw); reported in the detail line. */
  def findings(): Seq[(String, String)] = Nil
  /** Per-layer figures only this workload has, as run totals. */
  def layerTotals(): Map[String, Double] = Map.empty
  /** Ops per round: a client stops only at a round boundary, so a timed
    * run holds whole rounds. */
  def roundLength: Int = 1
  /** Ops each client runs even when the deadline has passed. */
  def minOps: Long = 0
  /** Ops run once each, in turn, by one client after the closed loop has
    * stopped. Part of the timed run. */
  def closing: Seq[Op] = Nil
}

object Workload {
  val Copies = 2
}

object Harness {

  /** Time a set-up phase; the line goes to stderr. Returns the body's
    * value and its wall time in seconds. */
  def phase[A](name: String)(body: => A): (A, Double) = {
    val t0 = System.nanoTime()
    val a = body
    val s = (System.nanoTime() - t0) / 1e9
    System.err.println(f"[perfbench] set-up $name%-14s $s%7.2f s")
    (a, s)
  }

  /** Op ids are unique across clients: client c's k-th op is
    * `k * MaxClients + c`. */
  val MaxClients = 16

  /** Run ops in a closed loop on `w.clients` threads until `seconds`
    * have passed and every client has run `minOps`, then the workload's
    * closing ops; an op in flight at the deadline completes and is
    * checked. */
  def closedLoop(ctx: Ctx, w: Workload, seconds: Double,
      counters: Option[SparkCounters]): Loop = {
    require(w.clients <= MaxClients)
    val records = mutable.ArrayBuffer.empty[OpRecord]
    val failures = mutable.ArrayBuffer.empty[String]
    def fail(msg: String): Unit = failures.synchronized { failures += msg }
    /** Runs op `i` and records it; returns its wall time in ns. */
    def run(i: Long, op: Op): Long = {
      val sc = ctx.spark.sparkContext
      if (counters.isDefined) sc.setLocalProperty(SparkCounters.OpProperty, i.toString)
      val s = System.nanoTime()
      val check = try Some(ctx.tracer.span(s"op.${op.name}", op = i)(op.call()))
      catch {
        case e: Throwable =>
          fail(s"op $i ${op.name}: ${e.getClass.getSimpleName}: " + String.valueOf(e.getMessage).take(300))
          None
      }
      val end = System.nanoTime()
      val ok = check.exists { f =>
        try {
          val passed = f()
          if (!passed) fail(s"op $i ${op.name}: check failed")
          passed
        } catch {
          case e: Throwable =>
            fail(s"op $i ${op.name}: check threw ${e.getClass.getSimpleName}: " +
              String.valueOf(e.getMessage).take(300))
            false
        }
      }
      records.synchronized { records += OpRecord(i, op.kind, op.name, s, end, ok) }
      sc.setLocalProperty(SparkCounters.OpProperty, null)
      end - s
    }
    val t0 = System.nanoTime()
    val deadline = t0 + (seconds * 1e9).toLong
    val threads = (0 until w.clients).map { c =>
      new Thread(() => {
        var k = 0L
        var last = 0L
        // past minOps, a client stops at a round boundary once its last op
        // would no longer fit before the deadline, so a slow op does not
        // run on alone after the others have stopped
        while (k % w.roundLength != 0 || k < w.minOps || System.nanoTime() + last < deadline) {
          last = run(k * MaxClients + c, w.op(c, k))
          k += 1
        }
      }, s"perfbench-client-$c")
    }
    threads.foreach(_.start())
    threads.foreach(_.join())
    // the closing ops take the ids of the next rounds of client 0
    val next = (records.map(_.id).maxOption.getOrElse(-1L) / MaxClients + 1) * MaxClients
    w.closing.zipWithIndex.foreach { case (op, j) => run(next + j * MaxClients, op) }
    Loop(records.sortBy(_.id).toSeq, failures.toSeq, t0)
  }
}
