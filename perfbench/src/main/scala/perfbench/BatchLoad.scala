package perfbench

import graft.SparkEntry
import graft.api.MiniJson
import graft.core.Tables
import org.apache.spark.sql.SparkSession

import scala.jdk.CollectionConverters._

/** `catalog_batch`: catalog queries from `SparkEntry.queries`, one at a
  * time, each run as a noop-format write (the action `graft.Bench` times,
  * which materialises every output column).
  *
  * inputs: `queries` (the set), `passes` (one seeded order per pass; steps
  * that write stored state lead every pass), `timed_passes`, `check`
  * (groups of the check pass, run one after another; in a group the
  * `serial` steps run in order on one thread while the `parallel` ones run
  * on the others), `tables` (what set-up loads) and `digests` (committed
  * result digests).
  */
final class BatchLoad(run: Run, inputs: Map[String, Any], cpus: Int) extends Load {
  private val queries = Harness.strings(inputs("queries"))
  private val passes = inputs("passes").asInstanceOf[List[Any]].map(Harness.strings)
  private val timedPasses = inputs("timed_passes").toString.toDouble.toInt
  private val checkGroups = inputs("check").asInstanceOf[List[Any]].map { g =>
    val m = g.asInstanceOf[Map[String, Any]]
    (Harness.strings(m("serial")), Harness.strings(m("parallel")))
  }
  private val tables = Harness.strings(inputs("tables"))
  private val digests = inputs("digests").asInstanceOf[Map[String, Any]]
  private val dir = run.dataDir
  private val seen = new java.util.concurrent.ConcurrentHashMap[String, String]()
  private var s: SparkSession = _

  private def plan(q: String) = SparkEntry.queries.getOrElse(q,
    throw new IllegalArgumentException(s"no catalog query named $q"))

  /** The set-up: a session on `graft.Bench`'s conf and every table the
    * workload reads resolved (file listing and parquet footers).
    */
  def setUp(): Unit = {
    s = Run.session("bench", cpus, run.workDir)
    tables.foreach(t => Tables(s, dir, t).schema)
  }

  /** Drop the RDDs persisted since `before`, as `graft.Bench` does after
    * each query, so later ops start from the same storage state.
    */
  private def unpersistSince(s: SparkSession, before: collection.Set[Int]): Unit =
    s.sparkContext.getPersistentRDDs.foreach { case (id, rdd) =>
      if (!before.contains(id)) rdd.unpersist(false)
    }

  /** The untimed check pass, which is also the warm-up: every query once,
    * its result digest compared with the committed one. A mismatch or a
    * throw is a failure of that query.
    */
  private def check(): Unit = {
    def one(q: String): Unit = run.attempt("check", q, q, "check") {
      val d = Run.digest(plan(q)(s, dir))
      seen.put(q, d)
      val want = digests.get(q).map(_.toString)
      if (!want.contains(d)) throw new IllegalStateException(
        s"result digest $d, committed ${want.getOrElse("none")}")
    }
    val before = s.sparkContext.getPersistentRDDs.keySet
    checkGroups.foreach { case (serial, parallel) =>
      val queue = new java.util.concurrent.ConcurrentLinkedQueue[String](parallel.asJava)
      def drain(): Unit = Iterator.continually(queue.poll()).takeWhile(_ != null).foreach(one)
      val workers = (new Thread(() => { serial.foreach(one); drain() }) +:
        (2 to cpus).map(_ => new Thread(() => drain())))
      workers.foreach(_.start())
      workers.foreach(_.join())
    }
    unpersistSince(s, before)
  }

  /** `n` timed passes from pass `from`; returns the process CPU seconds
    * spent in the timed queries. A GC before each query, outside the timed
    * region, gives every query the same heap and shuffle-file state, as in
    * `graft.Bench`.
    */
  private def window(name: String, n: Int, from: Int): Double = {
    var cpu = 0.0
    (from until from + n).foreach { p =>
      passes(p % passes.size).foreach { q =>
        System.gc()
        val before = s.sparkContext.getPersistentRDDs.keySet
        val cpu0 = Harness.processCpuS()
        run.attempt(name, q, q, "timed")(
          plan(q)(s, dir).write.format("noop").mode("overwrite").save())
        cpu += Harness.processCpuS() - cpu0
        unpersistSince(s, before)
      }
    }
    cpu
  }

  def run(): MiniJson.Raw = {
    val setup = Harness.coldSetUp(setUp())
    check()
    // a traced run measures half its passes untraced, for the overhead
    val untraced = if (run.traced) math.max(1, timedPasses / 2) else timedPasses
    val firstOp = Harness.sinceStart()
    val timedCpu = window("timed", untraced, 0)
    val rss = Run.rssPeakMb()
    val heap = Run.heapLiveMb()
    val probe =
      if (!run.traced) None
      else {
        val p = new SparkProbe(s)
        p.start()
        run.trace.on = true
        window("traced", math.max(1, timedPasses - untraced), untraced)
        run.trace.on = false
        p.stop()
        Some(p.toJson)
      }
    val conf = Run.confOf(s)
    Harness.result(run, setup, firstOp, timedCpu, rss, heap, conf, probe, MiniJson.obj(
      "queries" -> MiniJson.arr(queries),
      "digests" -> MiniJson.obj(seen.asScala.toSeq.sortBy(_._1): _*)))
  }
}
