package graft.perfbench

import java.io.File
import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}
import java.util.concurrent.{CountDownLatch, TimeUnit}

import scala.util.control.NonFatal

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.databind.node.ObjectNode
import org.apache.spark.sql.SparkSession

import graft.{Bench, SparkEntry}

/** One benchmark JVM. `run.py` starts it, reads the JSON record it writes
  * to `--record`, and checks the outputs it wrote under `--out`.
  *
  * {{{
  *   PerfMain --mode untraced|traced --kind consume|corpus --in DIR
  *            --out DIR --record FILE --cores N --warm N --warmup N
  *            [job options]
  * }}}
  *
  *  - `untraced`: set up the session, make the cold call, then repeat the
  *    call `--warm` times; the first `--warmup` of those repeats only warm
  *    the JIT up and are recorded as kind `warmup`.
  *    Before each repeat the blocks are dropped, and before each timed one
  *    the JIT is let settle (see [[settleJit]]). No listener is attached.
  *  - `traced`: set up the session with the layer listeners attached and
  *    make one cold traced call (see [[Job.traced]]).
  *
  * Every call writes into its own fresh directory `<out>/<call>`. After
  * the timed part the JVM writes the workload's oracle SQL next to the
  * record, so the checker uses the program's own oracle.
  */
object PerfMain {
  private val mapper = new ObjectMapper()

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val cores = opts("cores").toInt
    val work = Paths.get(opts("record")).toAbsolutePath.getParent.toString
    val heap = new HeapWatch
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("graft-perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      // the status store would otherwise keep every call's jobs and plans
      // and grow the heap with the number of repeated calls (see Bench)
      .config("spark.ui.retainedJobs", "20")
      .config("spark.ui.retainedStages", "40")
      .config("spark.ui.retainedTasks", "1000")
      .config("spark.sql.ui.retainedExecutions", "5")
      .withExtensions(new graft.functions.GraftExtensions)
      .getOrCreate()
    val setupS = ManagementFactory.getRuntimeMXBean.getUptime / 1000.0
    val (setupBusy, setupSteal) = cpuTicks()
    spark.sparkContext.setLogLevel("ERROR")
    val record = mapper.createObjectNode().put("setup_s", setupS)
      .put("setup_busy_ticks", setupBusy).put("setup_steal_ticks", setupSteal)
    val calls = record.putArray("calls")

    opts("mode") match {
      case "traced" =>
        val job = Job(opts)
        val layers = new LayerListener
        val queries = new QueryListener
        spark.sparkContext.addSparkListener(layers)
        spark.listenerManager.register(queries)
        val tr = new Tracer(spark)
        val jvm0 = JvmCounters.now()
        val (wallS, hostS, error) =
          timed(job.traced(spark, opts("in"), s"${opts("out")}/traced", tr))
        val jvm = JvmCounters.now() - jvm0
        org.apache.spark.perfbench.ListenerBusAccess.drain(spark.sparkContext)
        calls.add(call("traced", "traced", wallS, hostS, error))
        record.set[ObjectNode]("trace", traceRecord(tr, layers, queries, jvm, wallS, cores))
      case "untraced" =>
        val job = Job(opts)
        def one(kind: String, name: String): Unit = {
          val calib = Bench.calibrate()
          val load = ManagementFactory.getOperatingSystemMXBean.getSystemLoadAverage
          heap.reset()
          val (busy0, steal0) = cpuTicks()
          val (wallS, hostS, error) = timed(job.run(spark, opts("in"), s"${opts("out")}/$name"))
          val (busy1, steal1) = cpuTicks()
          calls.add(call(kind, name, wallS, hostS, error).put("calib_s", calib)
            .put("load1", load).put("busy_ticks", busy1 - busy0)
            .put("steal_ticks", steal1 - steal0).put("peak_heap_mb", heap.sample()))
        }
        one("cold", "cold")
        val warmup = opts("warmup").toInt
        for (i <- 0 until opts("warm").toInt) {
          Bench.dropAllBlocks(spark)
          if (i < warmup) one("warmup", s"warmup$i")
          else { settleJit(maxS = 8.0); one("warm", s"warm${i - warmup}") }
        }
    }

    val oracle = SparkEntry.oracleSql(opts("oracle"))
    Files.write(Paths.get(opts("record") + ".sql"), oracle.getBytes(StandardCharsets.UTF_8))
    mapper.writeValue(new File(opts("record")), record)
    spark.stop()
  }

  /** Waits, at most `maxS`, until the JIT compilers go quiet (under 10 %
    * of one compiler thread over 200 ms). A call leaves a compile backlog
    * behind (the cold call most of all) that competes with the next call's
    * task threads on a 4-core host: without this wait the first warm call
    * ran 10–50 % slower than the second, by an amount that varied from run
    * to run.
    */
  private def settleJit(maxS: Double): Unit = {
    val jit = ManagementFactory.getCompilationMXBean
    val end = System.nanoTime() + (maxS * 1e9).toLong
    var last = jit.getTotalCompilationTime
    var quiet = false
    while (!quiet && System.nanoTime() < end) {
      Thread.sleep(200)
      val now = jit.getTotalCompilationTime
      quiet = now - last < 20
      last = now
    }
  }

  /** The host's (busy, steal) CPU ticks from the first line of `/proc/stat`
    * (zeros where there is none). Busy is user, nice, system, irq and
    * softirq time. Steal is time a virtual CPU was ready to run while the
    * hypervisor ran another guest. It slows every timing of a call, yet the
    * load average and the calibrate probe barely show it.
    */
  private def cpuTicks(): (Long, Long) = try {
    val f = Files.readAllLines(Paths.get("/proc/stat")).get(0).trim.split("\\s+")
      .slice(1, 9).map(_.toLong)
    (f(0) + f(1) + f(2) + f(5) + f(6), f(7))
  } catch { case NonFatal(_) => (0L, 0L) }

  /** Runs `body`; returns its wall time, its wall time less steal (see
    * [[StealClock]]) and its error, if any.
    */
  private def timed(body: => Unit): (Double, Double, Option[String]) = {
    val clock = new StealClock
    clock.start()
    val t0 = System.nanoTime()
    val error = try { body; None } catch {
      case NonFatal(e) => Some(s"${e.getClass.getName}: ${e.getMessage}".take(500))
    }
    val wallS = (System.nanoTime() - t0) / 1e9
    (wallS, clock.finish(), error)
  }

  /** Wall time less the CPU time the hypervisor withheld from the VM,
    * integrated over 100 ms intervals. In each interval the VM's threads
    * received busy / (busy + steal) of the CPU time they asked for, so the
    * interval counts for that share of its length. Integrating per
    * interval keeps a burst of steal during a phase that runs on one core
    * (planning, a one-task stage) from being diluted by the busy time of
    * the call's parallel phases. With no steal it equals the wall time.
    */
  private final class StealClock extends Thread("perfbench-steal-clock") {
    setDaemon(true)
    private val done = new CountDownLatch(1)
    @volatile private var hostS = 0.0

    override def run(): Unit = {
      var (b0, s0) = cpuTicks()
      var t0 = System.nanoTime()
      var last = false
      while (!last) {
        last = done.await(100, TimeUnit.MILLISECONDS)
        val (b1, s1) = cpuTicks()
        val t1 = System.nanoTime()
        val (db, ds) = (b1 - b0, s1 - s0)
        hostS += (t1 - t0) / 1e9 * (if (db + ds > 0) db.toDouble / (db + ds) else 1.0)
        b0 = b1; s0 = s1; t0 = t1
      }
    }

    def finish(): Double = { done.countDown(); join(); hostS }
  }

  private def call(kind: String, name: String, wallS: Double, hostS: Double,
                   error: Option[String]): ObjectNode =
    mapper.createObjectNode().put("kind", kind).put("name", name).put("wall_s", wallS)
      .put("host_s", hostS).put("error", error.orNull)

  private def traceRecord(tr: Tracer, layers: LayerListener, queries: QueryListener,
                          jvm: JvmCounters, wallS: Double, cores: Int): ObjectNode = {
    val mb = 1024.0 * 1024.0
    val m = mapper.createObjectNode()
    val groups = layers.groups
    // a layer's stats: its own job group plus its `layer.part` groups
    def g(layer: String): GroupStats = {
      val sum = new GroupStats
      groups.filter { case (k, _) => k == layer || k.startsWith(layer + ".") }.values.foreach(sum += _)
      sum
    }
    def put(k: String, v: Double): Unit = m.put(k, v)
    for (layer <- Seq("sources", "repair", "stage1", "side", "enrich", "final", "modify"))
      put(s"$layer.s", tr.seconds(layer))
    for (part <- Seq("json", "csv", "table")) put(s"sinks.${part}_s", tr.seconds("sinks", part))
    for (part <- Seq("signatures", "candidates", "verify", "components"))
      put(s"dedup.${part}_s", tr.seconds("dedup", part))
    for (layer <- Seq("repair", "stage1", "side", "enrich", "final", "modify", "sinks", "dedup")) {
      put(s"$layer.jobs", g(layer).jobs)
      put(s"$layer.task_s", g(layer).taskMs / 1000.0)
      put(s"$layer.shuffle_mb", g(layer).shuffleWriteBytes / mb)
      put(s"$layer.spill_mb", g(layer).spillBytes / mb)
    }
    put("sources.read_mb", queries.scanned("filesSize") / mb)
    put("sources.read_rows", queries.scanned("numOutputRows").toDouble)
    put("sinks.written_mb", g("sinks").writeBytes / mb)
    put("sinks.written_rows", g("sinks").writeRecords.toDouble)
    put("dedup.components_jobs", g("dedup.components").jobs)
    tr.counters.foreach { case (k, v) => put(k, v) }

    val all = groups.values
    val jobMs = layers.jobMs.sorted
    val taskS = all.map(_.taskMs).sum / 1000.0
    put("spark.jobs", all.map(_.jobs).sum)
    put("spark.stages", all.map(_.stages).sum)
    put("spark.tasks", all.map(_.tasks).sum)
    put("spark.job_median_s", if (jobMs.isEmpty) 0.0 else jobMs(jobMs.size / 2) / 1000.0)
    put("spark.task_s", taskS)
    put("spark.busy_frac", taskS / (wallS * cores))
    put("spark.shuffle_mb", all.map(_.shuffleWriteBytes).sum / mb)
    put("spark.spill_mb", all.map(_.spillBytes).sum / mb)
    put("spark.task_skew", layers.worstSkew(cores))
    put("spark.cached_mb", tr.peakCachedBytes / mb)
    put("planning.s", queries.planningS)
    put("jvm.codegen_s", jvm.codegenNs / 1e9)
    put("jvm.codegen_classes", jvm.codegenClasses.toDouble)
    put("jvm.jit_s", jvm.jitMs / 1000.0)
    put("jvm.gc_s", jvm.gcMs / 1000.0)
    put("jvm.classes_loaded", jvm.classesLoaded.toDouble)
    m
  }
}
