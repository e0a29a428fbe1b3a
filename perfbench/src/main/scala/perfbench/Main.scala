package perfbench

import java.lang.management.ManagementFactory

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.SparkSession

/** The benchmark JVM. `perfbench/run.py` builds it, generates the inputs
  * and checks what this process leaves in `--out`:
  *
  *   --workload <name> --input <dir> --work <dir> --out <dir>
  *   --seconds <s> --trace <0|1>
  *
  * Flow: session start and the workload's one-time publishes (set-up,
  * timed from the JVM's own start), then timed passes for 60% of the
  * measuring window, then the closed-loop probe for the rest (at least
  * 20% of the window and two probes), then one
  * untimed dump of every output for the checker. Between passes the
  * block cache and the SharedPlans frame memo are cleared and the
  * workload restores its starting state, so every pass does the same
  * work. With --trace 1 a SparkListener charges jobs, tasks, shuffle,
  * spill and cache bytes to each op, spans are recorded around every
  * layer call, and the workload's traced-only ops (single-layer figures
  * too costly for every run) run once after the probe loop. */
object Main {
  def main(args: Array[String]): Unit = {
    val a = args.grouped(2).collect {
      case Array(k, v) if k.startsWith("--") => k.drop(2) -> v
    }.toMap
    val startMs = ManagementFactory.getRuntimeMXBean.getStartTime
    val (in, work, out) = (a("input"), a("work"), a("out"))
    val seconds = a("seconds").toDouble
    val traced = a("trace") == "1"
    val params = new java.util.Properties
    val pin = new java.io.FileInputStream(s"$in/params.properties")
    try params.load(pin) finally pin.close()

    val cpus = Runtime.getRuntime.availableProcessors
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val sc = spark.sparkContext
    val counters = new Counters
    if (traced) sc.addSparkListener(counters)
    val tracer = new Tracer(traced)
    val ctx = Ctx(spark, in, work, params, tracer)

    val wl: Workload = a("workload") match {
      case "shuffle_ledger" => new ShuffleLedger(ctx)
      case "dedup_index" => new DedupIndexWorkload(ctx)
      case w => throw new IllegalArgumentException(s"unknown workload $w")
    }

    sc.setLocalProperty(Counters.Key, "setup")
    tracer.withOp("setup")(tracer.span("setup")(wl.setup()))
    val setupS = (System.currentTimeMillis() - startMs) / 1000.0

    var attempted = 0L
    var failed = 0L
    def runOp(tag: String, name: String)(body: => Unit): Double = {
      sc.setLocalProperty(Counters.Key, tag)
      attempted += 1
      val t = System.nanoTime()
      try tracer.withOp(tag)(tracer.span(name)(body))
      catch {
        case e: Exception =>
          failed += 1
          System.err.println(s"[perfbench] $tag failed: $e")
          e.printStackTrace()
      }
      (System.nanoTime() - t) / 1e9
    }

    val t0 = System.nanoTime()
    def elapsed = (System.nanoTime() - t0) / 1e9
    val passWall = ArrayBuffer.empty[Double]
    val passOps = ArrayBuffer.empty[Map[String, Double]]
    val ops = wl.ops
    while (passWall.isEmpty || elapsed < seconds * 0.6) {
      val p = passWall.size
      val ps = System.nanoTime()
      val times = ops.map(op =>
        op.name -> runOp(s"pass$p/${op.name}", s"${op.layer}:${op.name}")(op.run()))
      passWall += (System.nanoTime() - ps) / 1e9
      passOps += times.toMap
      sc.setLocalProperty(Counters.Key, "reset")
      spark.catalog.clearCache()
      graft.SharedPlans.clearFrames(spark)
      wl.afterPass(p)
    }
    // the probe loop gets the rest of the window, and at least 20% of it
    // when the passes overran their share
    val probeEnd = math.max(seconds, elapsed + seconds * 0.2)
    val probeMs = ArrayBuffer.empty[Double]
    while (probeMs.size < 2 || elapsed < probeEnd)
      probeMs += 1000 * runOp(s"probe${probeMs.size}", "probe")(wl.probe(probeMs.size))

    def kindSum(kind: String): Seq[Double] = passOps.map(m =>
      ops.filter(_.kind == kind).map(o => m(o.name)).sum).toSeq
    val opMedian: Map[String, Double] = ops.map(o =>
      o.name -> Util.median(passOps.map(_(o.name)).toSeq)).toMap

    val layer: Map[String, Double] = if (!traced) Map.empty else {
      sc.setLocalProperty(Counters.Key, "extras")
      val extras = tracer.withOp("extras")(wl.tracedExtras())
      org.apache.spark.PerfbenchBus.drain(sc)
      val nPass = passWall.size
      def perPass(f: counters.C => Long): Seq[Double] =
        (0 until nPass).map(p => counters.sum(_.startsWith(s"pass$p/"))(f).toDouble)
      def opJobs(op: String): Double = Util.median((0 until nPass).map(p =>
        counters.sum(_ == s"pass$p/$op")(_.jobs).toDouble))
      val mb = 1024.0 * 1024.0
      val engine: Map[String, Double] = Map(
        "spark.jobs_per_pass" -> Util.median(perPass(_.jobs)),
        "spark.jobs_per_probe" -> Util.median(probeMs.indices.map(i =>
          counters.sum(_ == s"probe$i")(_.jobs).toDouble)),
        "spark.tasks_per_pass" -> Util.median(perPass(_.tasks)),
        "spark.shuffle_write_mb_per_pass" -> Util.median(perPass(_.shuffleWrite)) / mb,
        "spark.shuffle_read_mb_per_pass" -> Util.median(perPass(_.shuffleRead)) / mb,
        "spark.spill_mb_per_pass" -> Util.median(perPass(_.spill)) / mb,
        "spark.task_busy_s_per_pass" -> Util.median(perPass(_.runMs)) / 1000,
        "spark.core_util" -> Util.median(perPass(_.runMs).zip(passWall).map {
          case (ms, w) => ms / 1000 / (w * cpus) }),
        "cache.mb_materialized_per_pass" -> Util.median(perPass(_.cached)) / mb)
      engine ++ extras ++ wl.layerMetrics(opMedian, opJobs,
        tag => counters.sum(_ == tag)(_.jobs).toDouble)
    }

    // after the traced-only ops, whose answers are checked as well
    sc.setLocalProperty(Counters.Key, "verify")
    new java.io.File(out).mkdirs()
    wl.verify(out)

    val result = Map(
      "workload" -> a("workload"),
      "traced" -> traced,
      "cores" -> cpus,
      "setup_s" -> setupS,
      "pass_wall_s" -> passWall.toSeq,
      "pass_write_s" -> kindSum("write"),
      "pass_read_s" -> kindSum("read"),
      "op_median_s" -> opMedian,
      "probe_ms" -> probeMs.toSeq,
      "attempted" -> attempted,
      "failed" -> failed,
      "stored_bytes" -> wl.storedBytes,
      "layer" -> layer,
      "spans" -> (if (!traced) Seq.empty else tracer.spans.map(s => Map(
        "id" -> s.id, "parent" -> s.parent, "op" -> s.op, "name" -> s.name,
        "start_ms" -> (s.startNs - t0) / 1e6, "end_ms" -> (s.endNs - t0) / 1e6)).toSeq))
    val w = new java.io.PrintWriter(s"$out/jvm.json", "UTF-8")
    try w.write(Util.json(result)) finally w.close()
    spark.stop()
  }
}

/** What every workload gets: the session, its input and scratch roots,
  * the generator's scalar parameters and the tracer. */
final case class Ctx(spark: SparkSession, in: String, work: String,
    params: java.util.Properties, tracer: Tracer) {
  def param(k: String): String =
    Option(params.getProperty(k)).getOrElse(
      throw new NoSuchElementException(s"params.properties lacks $k"))
}
