package perfbench

import graft.api.MiniJson
import org.apache.spark.sql.{DataFrame, Row, SparkSession}

import scala.collection.mutable.ArrayBuffer
import scala.util.control.NonFatal

/** One op as the harness saw it. `window` is the phase it ran in (check,
  * timed, traced, replay); a failed op carries the stage that threw
  * or mismatched and is never used as a latency sample. `client` is the
  * closed-loop client that sent it (0 for the batch loop).
  */
final case class OpRec(window: String, op: String, kind: String, t0: Long,
    t1: Long, ok: Boolean, stage: String = "", err: String = "", client: Int = 0)

/** State shared by every workload of one benchmark process. */
final class Run(val workload: String, val dataDir: String, val workDir: String,
    val seconds: Double, val traced: Boolean) {
  val trace = new Trace
  private val ops = ArrayBuffer.empty[OpRec]

  def record(r: OpRec): Unit = {
    if (!r.ok) System.err.println(
      s"[perfbench] FAIL workload=$workload op=${r.op} stage=${r.stage} error=${r.err}")
    ops.synchronized(ops += r)
  }

  def records: Seq[OpRec] = ops.synchronized(ops.toList)

  /** Run `f` as one op. A throw is recorded as a failure of `stage`, with no
    * latency sample, and yields None; it is never timed as a pass.
    */
  def attempt[T](window: String, op: String, kind: String, stage: String)(
      f: => T): Option[T] = {
    val t0 = Clock.nowNs()
    try {
      val v = trace.span(kind, op)(f)
      record(OpRec(window, op, kind, t0, Clock.nowNs(), ok = true))
      Some(v)
    } catch {
      case NonFatal(e) =>
        record(OpRec(window, op, kind, t0, Clock.nowNs(), ok = false, stage,
          s"${e.getClass.getSimpleName}: ${Option(e.getMessage).getOrElse("").take(300)}"))
        None
    }
  }
}

object Run {
  /** Session conf of the engine's own mains, copied rather than shared
    * because the benchmark must not change program code. `serve` is
    * `graft.Serve`'s conf; `bench` is `graft.Bench`'s, which adds parquet
    * aggregate pushdown and the sort-based shuffle writer. The last three
    * settings only keep the run's scratch files inside its own directory.
    */
  def session(conf: String, cpus: Int, workDir: String): SparkSession = {
    val b = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
    if (conf == "bench")
      b.config("spark.sql.parquet.aggregatePushdown", "true")
        .config("spark.shuffle.sort.bypassMergeThreshold", "1")
    b.config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$workDir/spark-local")
      .config("spark.sql.warehouse.dir", s"$workDir/warehouse")
      .config("graft.hnsw.indexDir", s"$workDir/hnsw")
    val s = b.getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  /** Order-insensitive digest of a result: row count plus the sum of a
    * 64-bit hash of each row's canonical text. Floating values are rounded
    * to 7 significant digits, so a different summation order cannot flip
    * the digest while any real change of a value does.
    */
  def digest(df: DataFrame): String = {
    val (n, sum) = df.rdd.mapPartitions { rows =>
      val md = java.security.MessageDigest.getInstance("SHA-256")
      var n = 0L; var s = 0L
      rows.foreach { r =>
        val h = md.digest(canon(r).getBytes("UTF-8"))
        s += java.nio.ByteBuffer.wrap(h, 0, 8).getLong
        n += 1
      }
      Iterator((n, s))
    }.fold((0L, 0L)) { case ((a, b), (c, d)) => (a + c, b + d) }
    s"$n:${java.lang.Long.toHexString(sum)}"
  }

  def canon(v: Any): String = v match {
    case null => "∅"
    case d: Double => if (d.isNaN) "NaN" else String.format(java.util.Locale.ROOT, "%.7g", Double.box(d))
    case f: Float => canon(f.toDouble)
    case b: java.math.BigDecimal => b.stripTrailingZeros.toPlainString
    case a: Array[Byte] => a.map(x => f"${x & 0xff}%02x").mkString
    case r: Row => r.toSeq.map(canon).mkString("(", "\u0001", ")")
    case s: scala.collection.Seq[_] => s.map(canon).mkString("[", "\u0001", "]")
    case m: scala.collection.Map[_, _] =>
      m.toSeq.map { case (k, x) => canon(k) + "=" + canon(x) }.sorted.mkString("{", "\u0001", "}")
    case other => other.toString
  }

  /** Host record: cores, CPU model, a single-core burn probe (xorshift64,
    * fixed iteration count; compare two results by it first) and max heap.
    */
  def host(): MiniJson.Raw = {
    val cpu =
      try scala.io.Source.fromFile("/proc/cpuinfo").getLines()
        .collectFirst { case l if l.startsWith("model name") => l.split(":").last.trim }
        .getOrElse("unknown")
      catch { case NonFatal(_) => "unknown" }
    var x = 88172645463325252L
    val t0 = System.nanoTime()
    var i = 0
    while (i < 50000000) { x ^= x << 13; x ^= x >>> 7; x ^= x << 17; i += 1 }
    val burnMs = (System.nanoTime() - t0) / 1e6
    MiniJson.obj(
      "nproc" -> Runtime.getRuntime.availableProcessors(),
      "cpu" -> cpu,
      "burn_ms" -> burnMs,
      "burn_check" -> (x & 0xff),
      "max_heap_mb" -> Runtime.getRuntime.maxMemory / 1048576.0)
  }

  /** Heap still in use after a full collection, in MB: what the engine
    * retains once the work is done (caches, plans, indexes).
    */
  def heapLiveMb(): Double = {
    System.gc(); System.gc()
    java.lang.management.ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
  }

  /** Peak resident set of this JVM (VmHWM), in MB. */
  def rssPeakMb(): Double =
    scala.io.Source.fromFile("/proc/self/status").getLines()
      .collectFirst { case l if l.startsWith("VmHWM:") =>
        l.split("\\s+")(1).toDouble / 1024.0 }
      .getOrElse(0.0)

  def confOf(s: SparkSession): MiniJson.Raw =
    MiniJson.obj(s.conf.getAll.toSeq.sortBy(_._1): _*)
}
