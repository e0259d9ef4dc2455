package perfbench

import org.apache.spark.sql.SparkSession
import java.lang.management.ManagementFactory
import java.nio.file.Paths
import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** Benchmark entry point. One run: write a workload's seeded inputs, open them
  * (set-up, repeated), warm up, run timed ops for `--seconds`, check the last op's
  * output, and print one JSON line with the end-to-end metrics (`--trace 0`)
  * or the per-layer metrics and tracing overhead (`--trace 1`).
  *
  *   Main --workload <name> --seed <n> --seconds <s> --trace <0|1> --work <dir>
  *   Main --selftest --seed <n> --work <dir>
  */
object Main {
  val SetupReps = 3
  val MinOps = 2
  val WarmUpS = 3

  final case class Args(workload: String, seed: Long, seconds: Int, trace: Boolean,
                        selftest: Boolean, work: String)

  def parse(argv: Array[String]): Args = {
    val m = argv.sliding(2, 2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    val self = argv.contains("--selftest")
    val a = Args(m.getOrElse("workload", ""), m.getOrElse("seed", "1").toLong,
      m.getOrElse("seconds", "6").toInt, m.getOrElse("trace", "0") == "1", self,
      m.getOrElse("work", sys.error("--work <dir> is required")))
    require(self || Workloads.all.exists(_.name == a.workload),
      s"unknown workload '${a.workload}'; one of ${Workloads.all.map(_.name).mkString(", ")}")
    a
  }

  def session(cores: Int, work: String): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) 0.0
    else if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  /** Peak live heap over the timed ops. A full GC before each op (outside
    * its timer) starts every op from the same clean heap; the metric is the
    * largest occupancy left after any collection during an op, or after
    * that pre-op GC if none ran.
    */
  final class HeapPeak {
    import com.sun.management.GarbageCollectionNotificationInfo
    import javax.management.{NotificationEmitter, NotificationListener}
    import javax.management.openmbean.CompositeData
    private val heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == java.lang.management.MemoryType.HEAP).map(_.getName).toSet
    @volatile private var peak = 0L
    @volatile private var armed = false
    private val listener: NotificationListener = (n, _) =>
      if (armed && n.getType == GarbageCollectionNotificationInfo.GARBAGE_COLLECTION_NOTIFICATION) {
        val info = GarbageCollectionNotificationInfo.from(n.getUserData.asInstanceOf[CompositeData])
        val after = info.getGcInfo.getMemoryUsageAfterGc.asScala
          .collect { case (pool, u) if heapPools(pool) => u.getUsed }.sum
        peak = math.max(peak, after)
      }
    private val beans = ManagementFactory.getGarbageCollectorMXBeans.asScala
      .collect { case e: NotificationEmitter => e }
    beans.foreach(_.addNotificationListener(listener, null, null))

    /** Full GC, then watch the op that follows. */
    def beforeOp(): Unit = {
      armed = false
      System.gc()
      peak = math.max(peak, ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed)
      armed = true
    }
    def stop(): Long = {
      armed = false
      beans.foreach(_.removeNotificationListener(listener))
      math.max(peak, 1L)
    }
  }

  def main(argv: Array[String]): Unit = {
    val a = parse(argv)
    val cores = Runtime.getRuntime.availableProcessors
    val spark = session(cores, a.work)
    val code =
      try { if (a.selftest) SelfTest.run(spark, a.seed, a.work) else { run(spark, a, cores); 0 } }
      finally spark.stop()
    sys.exit(code)
  }

  def run(spark: SparkSession, a: Args, cores: Int): Unit = {
    val w = Workloads.all.find(_.name == a.workload).get
    val sc = spark.sparkContext
    val totals = new TaskTotals
    sc.addSparkListener(totals)
    val tracer = new Tracer(sc)
    val heap = new HeapPeak

    // inputs: written once; the program sees only these files
    val dir = s"${a.work}/input"
    val g0 = System.nanoTime()
    Gen.write(spark, w.spec, a.seed, dir, files = cores, byDay = w.byDay)
    val genS = (System.nanoTime() - g0) / 1e9
    // set-up: open the inputs as the engine's sources and views, several
    // times; the last one is measured
    val setupS = (1 to SetupReps).map { _ =>
      val t0 = System.nanoTime()
      val opened = w.open(spark, dir, a.seed)
      ((System.nanoTime() - t0) / 1e9, opened)
    }
    val runT0 = System.nanoTime()
    def phase(what: String): Unit =
      println(f"perfbench: ${(System.nanoTime() - runT0) / 1e9}%7.2f s after set-up: $what")
    val opened = setupS.last._2
    val plain = new Spans(None)
    println(s"perfbench: ${w.name} seed ${a.seed}: ${opened.turns} turns written in " +
      f"$genS%.2f s, set-up ${setupS.map(x => f"${x._1}%.3f").mkString(" ")} s")

    // warm-up ops (rep 0), at least one and at least WarmUpS: JIT, codegen
    // and file-listing caches fill before timing
    val w0 = System.nanoTime()
    do opened.op(0, plain) while (System.nanoTime() - w0 < WarmUpS * 1e9)
    totals.take(sc)
    phase("warm-up op done")

    var attempted = 0
    var failed = 0
    val walls = mutable.ArrayBuffer.empty[Double]
    val tracedWalls = mutable.ArrayBuffer.empty[Double]
    val cpu = mutable.ArrayBuffer.empty[Double]
    val task = mutable.ArrayBuffer.empty[Double]
    val layers = mutable.ArrayBuffer.empty[Map[String, Double]]
    val t0 = System.nanoTime()
    def elapsed = (System.nanoTime() - t0) / 1e9
    var rep = 1
    // stop early once ops keep throwing: the run then reports its failures
    while ((elapsed < a.seconds || walls.size < MinOps || (a.trace && tracedWalls.size < MinOps)) &&
        failed <= MinOps) {
      // traced and untraced ops alternate in U T T U order, so a trend
      // across the run (late JIT, caches) cancels out of the overhead
      val traced = a.trace && (rep % 4 == 2 || rep % 4 == 3)
      if (traced) { sc.addSparkListener(tracer); spark.listenerManager.register(tracer) }
      attempted += 1
      heap.beforeOp()
      val s0 = System.nanoTime()
      val res = scala.util.Try(opened.op(rep, if (traced) new Spans(Some(tracer)) else plain))
      val wall = (System.nanoTime() - s0) / 1e9
      val ts = totals.take(sc)
      res match {
        case scala.util.Failure(e) =>
          failed += 1
          if (traced) tracer.take()
          System.err.println(s"perfbench: op $rep failed: $e")
        case scala.util.Success(out) if traced =>
          tracedWalls += wall
          layers += Layers.metrics(tracer.take(), out, wall, cores)
        case scala.util.Success(_) =>
          walls += wall
          println(f"perfbench: op $rep: $wall%.3f s")
          cpu += ts.map(_.cpuS).sum
          task += ts.map(_.runS).sum
      }
      if (traced) { sc.removeSparkListener(tracer); spark.listenerManager.unregister(tracer) }
      rep += 1
    }
    val peakHeapMb = heap.stop() / 1048576.0
    phase(s"$attempted timed ops done")

    // checks, outside the timed region; a failed check fails every op whose
    // output it stands for (all ops run one plan over the same inputs)
    if (a.trace) { sc.addSparkListener(tracer); spark.listenerManager.register(tracer) }
    val (checks, counters) =
      if (failed == attempted) (Seq(Check("ops_ran", ok = false, "every op threw")), Map.empty[String, Double])
      else opened.check(new Spans(if (a.trace) Some(tracer) else None))
    checks.foreach(c => println(s"perfbench: check ${c.name}: ${if (c.ok) "ok" else "FAILED"} (${c.detail})"))
    if (checks.exists(!_.ok)) failed = attempted
    phase("checks done")

    val metrics: Seq[(String, Double, String)] =
      if (!a.trace) Seq(
        ("setup_s", median(setupS.map(_._1)), "s"),
        ("turns_per_s", opened.turns / median(walls.toSeq), "turns/s"),
        ("cpu_s", median(cpu.toSeq), "s"),
        ("task_s", median(task.toSeq), "s"),
        ("peak_heap_mb", peakHeapMb, "MB"),
        ("ok_frac", (attempted - failed).toDouble / attempted, "fraction"))
      else {
        tracer.take()
        val traceFile = Paths.get(a.work).getParent.resolve("traces")
          .resolve(s"${w.name}-seed${a.seed}.jsonl")
        tracer.dump(traceFile)
        println(s"perfbench: spans written to $traceFile")
        tracer.selfTimes.toSeq.sortBy(-_._2).foreach { case (k, v) =>
          println(f"perfbench: self time $k%-48s $v%9.3f s")
        }
        val med = Layers.Names.map(n => n -> median(layers.toSeq.map(_.getOrElse(n, 0.0)))).toMap
        val overhead = median(tracedWalls.toSeq) - median(walls.toSeq)
        (Layers.Names.map(n => (n, counters.getOrElse(n, med(n)), Layers.unit(n))) ++ Seq(
          ("trace.overhead_s", overhead, "s"),
          ("trace.overhead_frac", overhead / median(walls.toSeq), "fraction")))
      }
    val ok = checks.forall(_.ok) && failed == 0
    val body = metrics.map { case (n, v, u) =>
      s""""$n": {"value": ${if (v.isNaN || v.isInfinite) 0.0 else v}, "unit": "$u"}"""
    }
    println(s"""{"correct": $ok, "attempted": $attempted, "failed": $failed, """ +
      s""""metrics": {${body.mkString(", ")}}}""")
  }
}
