package perfbench

import java.nio.file.{Files, Paths}

import graft.api.MiniJson
import graft.api.MiniJson.{arr, obj}

/** Benchmark process: runs one workload over generated inputs and writes its
  * raw record (host, session conf, set-up time, every op, spans and Spark
  * counters) as one JSON file. `perfbench/run.py` builds it, generates the
  * inputs from the seed and turns the record into metrics.
  *
  * Usage: Harness <run|setup> <workload> <inputs.json> <seconds> <trace 0|1>
  * <data dir> <work dir> <out.json>
  *
  * `setup` only sets the workload up, from a cold JVM, and writes
  * `{"setup_s": ...}`; `run.py` runs it beside the full run so that
  * `setup_s` is a median of several cold set-ups.
  */
object Harness {
  def main(args: Array[String]): Unit =
    try runMain(args)
    catch {
      // Spark's and the facade's threads would keep the JVM alive after a
      // throw in main: end it at once, so the run fails instead of hanging
      case e: Throwable =>
        e.printStackTrace()
        System.err.flush()
        Runtime.getRuntime.halt(1)
    }

  private def runMain(args: Array[String]): Unit = {
    val Array(mode, workload, inputsPath, seconds, trace, dataDir, workDir, out) = args
    val inputs = MiniJson.parse(Files.readString(Paths.get(inputsPath)))
      .asInstanceOf[Map[String, Any]]
    val run = new Run(workload, dataDir, workDir, seconds.toDouble, trace == "1")
    val cpus = Runtime.getRuntime.availableProcessors()
    val load: Load = workload match {
      case "bi_serve" => new ServeLoad(run, inputs, cpus)
      case "catalog_batch" => new BatchLoad(run, inputs, cpus)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }
    val result = mode match {
      case "run" => load.run()
      case "setup" => obj("setup_s" -> coldSetUp(load.setUp()))
      case other => throw new IllegalArgumentException(s"unknown mode $other")
    }
    Files.writeString(Paths.get(out), result.json)
    // no orderly Spark shutdown: the run directory is deleted after exit
    Runtime.getRuntime.halt(0)
  }

  def strings(v: Any): List[String] = v.asInstanceOf[List[Any]].map(_.toString)

  /** Seconds from process start to now. */
  def sinceStart(): Double = (Clock.nowNs() - Clock.fromEpochMs(
    java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime)) / 1e9

  /** Run the set-up and time it from process start, so that JVM start,
    * class loading and the first planning are part of it.
    */
  def coldSetUp(setUp: => Unit): Double = {
    setUp
    sinceStart()
  }

  /** CPU time of this process (all threads) in seconds. */
  def processCpuS(): Double =
    java.lang.management.ManagementFactory.getOperatingSystemMXBean
      .asInstanceOf[com.sun.management.OperatingSystemMXBean].getProcessCpuTime / 1e9

  def result(run: Run, setup: Double, firstOp: Double, timedCpuS: Double, rssMb: Double,
      heapMb: Double, conf: MiniJson.Raw, probe: Option[MiniJson.Raw],
      extra: MiniJson.Raw): MiniJson.Raw =
    obj(
      "workload" -> run.workload,
      "seconds" -> run.seconds,
      "traced" -> run.traced,
      "host" -> Run.host(),
      "conf" -> conf,
      "setup_s" -> arr(Seq(setup)),
      "first_op_s" -> firstOp,
      "timed_cpu_s" -> timedCpuS,
      "rss_peak_mb" -> rssMb,
      "heap_live_mb" -> heapMb,
      "ops" -> arr(run.records.map(r => obj("window" -> r.window, "op" -> r.op,
        "kind" -> r.kind, "t0" -> r.t0, "t1" -> r.t1, "ok" -> r.ok,
        "stage" -> r.stage, "err" -> r.err, "client" -> r.client))),
      "spans" -> arr(run.trace.all.map(s => obj("id" -> s.id, "name" -> s.name,
        "start" -> s.start, "end" -> s.end, "parent" -> s.parent, "op" -> s.op))),
      "probe" -> probe,
      "extra" -> extra)
}

/** A workload: its set-up, which `setup_s` times, and its full run. */
trait Load {
  def setUp(): Unit
  def run(): MiniJson.Raw
}
