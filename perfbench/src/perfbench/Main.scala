package perfbench

import java.lang.management.ManagementFactory

import scala.collection.mutable.ArrayBuffer
import scala.util.control.NonFatal

import org.apache.spark.sql.SparkSession

/** One benchmark run in a fresh JVM: set up three times (the first from JVM
  * start), run one cold op, then warm ops for `--seconds` of op wall (at
  * least two), and check every op's output against the expected answer.
  *
  * With `--trace 1` the warm time is split: untraced ops for half of it,
  * then ops instrumented by [[Tracer]] for the other half, then the
  * workload's prefix jobs for per-layer self times.
  *
  * It prints one `PB <json>` line per record on stdout; `run.py` turns
  * them into the benchmark's result.
  */
object Main {

  private final case class Opts(workload: String, seed: Long, seconds: Double,
                                trace: Boolean, work: String, cores: Int)

  private def parse(args: Array[String]): Opts = {
    val m = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    Opts(m("workload"), m("seed").toLong, m("seconds").toDouble, m("trace") == "1",
      m("work"), m("cores").toInt)
  }

  private def json(v: Any): String = v match {
    case s: String => "\"" + s.replace("\\", "\\\\").replace("\"", "\\\"") + "\""
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case b: Boolean => b.toString
    case n: Int => n.toString
    case n: Long => n.toString
    case xs: Seq[_] => xs.map(json).mkString("[", ",", "]")
    case m: Map[_, _] =>
      m.toSeq.map { case (k, x) => json(k.toString) + ":" + json(x) }.mkString("{", ",", "}")
  }

  private def emit(kind: String, fields: (String, Any)*): Unit = {
    println("PB " + json(Map("kind" -> kind) ++ fields.toMap))
    Console.out.flush()
  }

  private def session(o: Opts): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[${o.cores}]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", o.cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"${o.work}/spark-local")
      .config("spark.sql.warehouse.dir", s"${o.work}/warehouse")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s.range(200000L).selectExpr("sum(id)").collect()
    s
  }

  /** Heap in use after full GCs. The first GC lets Spark's cleaner drop
    * the blocks of the op's unreachable checkpoints; the second frees them.
    */
  private def heapAfterGcMb(): Double = {
    System.gc()
    Thread.sleep(250)
    System.gc()
    ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
  }

  /** `body`'s value, or None when it throws: a failed op, not a failed run. */
  private def attempt[A](body: => A): Option[A] =
    try Some(body) catch {
      case NonFatal(e) => System.err.println(s"op failed: $e"); None
    }

  def main(args: Array[String]): Unit = {
    val mainStart = System.currentTimeMillis / 1e3
    val o = parse(args)
    val w = Workload(o.workload, o.seed, o.work)
    val jvmStart = ManagementFactory.getRuntimeMXBean.getStartTime / 1e3
    var spark: SparkSession = null
    def setUp(start: Double): Double = {
      if (spark != null) {
        spark.stop()
        SparkSession.clearActiveSession()
        SparkSession.clearDefaultSession()
      }
      spark = session(o)
      w.setup(spark)
      System.currentTimeMillis / 1e3 - start
    }

    // (warm, wall, digest of the output, or None when the op threw)
    val ops = ArrayBuffer.empty[(Boolean, Double, Option[String])]
    def runOp(warm: Boolean): Unit = {
      val t0 = Workload.now()
      val digest = attempt(w.op(spark))
      val wall = Workload.now() - t0
      ops += ((warm, wall, digest.flatMap(d => attempt(d()))))
      emit("op", "warm" -> warm, "wall" -> wall, "heap_mb" -> heapAfterGcMb())
    }
    // at least two warm ops: a run whose first warm op outlasts `seconds`
    // would otherwise report that op alone, still slowed by the JIT
    def warmFor(seconds: Double): Seq[Double] = {
      val walls = ArrayBuffer.empty[Double]
      while (walls.size < 2 || walls.sum < seconds) {
        runOp(warm = true)
        walls += ops.last._2
      }
      walls.toSeq
    }

    val setups = setUp(jvmStart) +: (1 to 2).map(_ => setUp(System.currentTimeMillis / 1e3))
    runOp(warm = false)
    emit("setup", "walls" -> setups, "items" -> w.items, "boot" -> (mainStart - jvmStart))
    if (!o.trace) warmFor(o.seconds)
    else {
      val untraced = warmFor(o.seconds / 2)
      val tracer = new Tracer(spark)
      tracer.start()
      val traced = ArrayBuffer.empty[Map[String, Double]]
      while (traced.size < 2 || traced.map(Tracer.opWall).sum < o.seconds / 2) {
        tracer.drain()
        tracer.reset()
        val (figures, digest) = w.traced(spark, tracer)
        traced += figures
        ops += ((true, Tracer.opWall(figures), attempt(digest())))
        emit("op", "warm" -> true, "traced" -> true, "wall" -> Tracer.opWall(figures),
          "heap_mb" -> heapAfterGcMb())
      }
      val perTag = tracer.perTag
      val medians = traced.flatMap(_.keys).distinct.map { k =>
        k -> Stats.median(traced.flatMap(_.get(k)).toSeq)
      }.toMap
      val layers = w.layerSelfTimes(spark, tracer, medians)
      tracer.stop()
      val overhead = Stats.median(traced.map(Tracer.opWall).toSeq) - Stats.median(untraced)
      emit("trace", "ops" -> traced.size,
        "metrics" -> (medians ++ layers + ("trace.overhead_s" -> overhead)),
        "tags" -> perTag.map { case (t, s) =>
          t -> Map("jobs" -> s.jobs, "tasks" -> s.tasks, "run_s" -> s.runMs / 1e3,
            "cpu_s" -> s.cpuNs / 1e9, "shuffle_write_bytes" -> s.shuffleWriteBytes)
        })
    }

    val (expected, expectedWall) = Workload.timed(w.expected(spark))
    emit("check", "ok" -> ops.map(_._3.contains(expected)).toSeq,
      "expected_s" -> expectedWall)
    spark.stop()
    emit("done")
  }
}
