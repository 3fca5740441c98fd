package perfbench

import org.apache.spark.sql.SparkSession

import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** The benchmark's entry point:
  * {{{
  *   Main --workload <ingest|search|curate> --seed <n> --seconds <s>
  *        --trace <0|1> --out <dir>
  * }}}
  * prints one JSON object as its last stdout line. `--trace 0` measures
  * one workload end to end; `--trace 1` makes the traced run, which
  * covers the layers of every workload. Run it through
  * `python3 perfbench/run.py`, which builds it first. */
object Main {
  final case class Args(workload: Workload, seed: Long, seconds: Int, trace: Boolean, out: String)

  def parse(args: Array[String]): Either[String, Args] = {
    val kv = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    if (args.length % 2 != 0 || kv.size * 2 != args.length) return Left("arguments come in --key value pairs")
    for {
      w <- kv.get("workload").flatMap(Workloads.byName)
        .toRight(s"--workload must be one of ${Workloads.all.map(_.name).mkString(", ")}")
      seed <- kv.get("seed").flatMap(_.toLongOption).toRight("--seed must be an integer")
      secs <- kv.get("seconds").flatMap(_.toIntOption).filter(s => s >= 1 && s <= 600)
        .toRight("--seconds must be an integer in 1..600")
      trace <- kv.get("trace").collect { case "0" => false; case "1" => true }.toRight("--trace must be 0 or 1")
      out <- kv.get("out").toRight("--out is required")
    } yield Args(w, seed, secs, trace, out)
  }

  def main(argv: Array[String]): Unit = {
    val a = parse(argv) match {
      case Right(a) => a
      case Left(msg) => System.err.println(s"perfbench: $msg"); sys.exit(2)
    }
    val ok = try { run(a); true } catch {
      case e: Throwable => e.printStackTrace(); false
    }
    sys.exit(if (ok) 0 else 1)
  }

  def run(a: Args): Unit = {
    val out = new java.io.File(a.out).getAbsoluteFile
    val work = new java.io.File(out, s"work-${ProcessHandle.current().pid()}")
    val diag = new Diagnostics
    diag.before()
    val t0 = System.nanoTime()
    val spark = session(out)
    val sessionS = (System.nanoTime() - t0) / 1e9
    try {
      val result =
        if (a.trace) Traced.run(spark, a, work.getPath, diag)
        else Measured.run(spark, a, work.getPath, sessionS, diag)
      diag.after()
      diag.write(new java.io.File(out, "runs"), a, result)
      println(result.json)
    } finally {
      spark.stop()
      deleteTree(work)
    }
  }

  /** `graft.Bench`'s session: local[min(cores, 4)], shuffle partitions =
    * cores, UTC, UI off, a sweep-sized codegen cache. Spark's scratch
    * space stays under the output directory. */
  def session(out: java.io.File): SparkSession = {
    val cores = math.min(Runtime.getRuntime.availableProcessors(), 4)
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.codegen.cache.maxEntries", "5000")
      .config("spark.local.dir", new java.io.File(out, "spark-local").getPath)
      .config("spark.sql.warehouse.dir", new java.io.File(out, "warehouse").getPath)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  def deleteTree(f: java.io.File): Unit = {
    Option(f.listFiles()).foreach(_.foreach(deleteTree))
    f.delete()
  }

  /** Spark's cached relations dropped and the heap collected, outside
    * any timed section (`graft.Bench`'s discipline between runs). */
  def quiesce(spark: SparkSession): Unit = {
    spark.catalog.clearCache()
    System.gc()
  }
}

/** The result line. */
final case class Result(correct: Boolean, attempted: Long, failed: Long,
                        metrics: Seq[(String, Double, String)], problems: Seq[String]) {
  def json: String = {
    val ms = metrics.map { case (n, v, u) => s""""$n": {"value": ${Json.num(v)}, "unit": "$u"}""" }
    s"""{"correct": $correct, "attempted": $attempted, "failed": $failed, "metrics": {${ms.mkString(", ")}}}"""
  }
}

object Json {
  def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "null" else if (v == math.rint(v) && math.abs(v) < 1e15) v.toLong.toString else v.toString
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""; case '\\' => "\\\\"; case '\n' => "\\n"; case c if c < ' ' => f"\\u${c.toInt}%04x"; case c => c.toString
  } + "\""
}

object Stats {
  /** Linear-interpolated quantile of `xs` (q in [0, 1]). */
  def quantile(xs: Seq[Double], q: Double): Double = {
    val s = xs.sorted
    if (s.isEmpty) Double.NaN
    else {
      val pos = q * (s.size - 1)
      val lo = math.floor(pos).toInt
      val hi = math.min(lo + 1, s.size - 1)
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }
  }
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)
}

/** Per-operation outcomes, keyed by (set-up repeat, operation index). */
final class Ledger {
  val outcomes = mutable.LinkedHashMap.empty[(Int, Int), Outcome]
  def add(key: (Int, Int), o: Outcome): Unit =
    outcomes(key) = outcomes.get(key).fold(o)(_ + o)
  def check(key: (Int, Int), chk: () => Outcome): Unit =
    add(key, try chk() catch { case e: Exception => Outcome(0, Seq(s"check threw: $e")) })
  def attempted: Long = outcomes.size.toLong
  def failed: Long = outcomes.values.count(_.problems.nonEmpty).toLong
  def problems: Seq[String] = outcomes.toSeq.flatMap { case ((r, i), o) => o.problems.map(p => s"[$r/$i] $p") }
}

/** The end-to-end run: the fixture built three times (the median
  * counts), untimed warm-up operations on the last, then a closed loop
  * of operations from one client thread until `--seconds` of operation
  * time has been measured. */
object Measured {
  val SetupRepeats = 3
  /** Operation time after which the loop pauses, untimed, to quiesce. */
  val QuiesceEveryS = 2.0

  private val os = java.lang.management.ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]

  def run(spark: SparkSession, a: Main.Args, work: String, sessionS: Double, diag: Diagnostics): Result = {
    val ledger = new Ledger
    val builds = (0 until SetupRepeats).map { r =>
      val dir = s"$work/${a.workload.name}-$r"
      val t0 = System.nanoTime()
      val f = a.workload.setup(spark, dir, a.seed)
      val s = (System.nanoTime() - t0) / 1e9
      if (r < SetupRepeats - 1) Main.deleteTree(new java.io.File(dir))
      (f, s)
    }
    val fx = builds.last._1
    val t0 = System.nanoTime()
    (1 to a.workload.warmupOps).foreach(k => ledger.check((0, -k), fx.op(-k, NoTrace)))
    val warmS = (System.nanoTime() - t0) / 1e9
    Main.quiesce(spark)

    val threads0 = Diagnostics.threadCpu()
    val proc0 = os.getProcessCpuTime
    val jvm0 = Diagnostics.jitAndGcMs()
    val lat = mutable.ArrayBuffer.empty[Double]
    var opS = 0.0
    var cpuNs = 0L
    var threadsAt = threads0
    var sinceQuiesce = 0.0
    var i = 0
    val wallCap = System.nanoTime() + (a.seconds * 3L + 30L) * 1000000000L
    while (opS < a.seconds && System.nanoTime() < wallCap) {
      val t0 = System.nanoTime()
      val chk = try fx.op(i, NoTrace) catch {
        case e: Exception => () => Outcome(0, Seq(s"operation threw: $e"))
      }
      val dt = (System.nanoTime() - t0) / 1e9
      val threadsNow = Diagnostics.threadCpu()
      cpuNs += Diagnostics.javaCpuNs(threadsAt, threadsNow)
      lat += dt * 1000
      opS += dt
      sinceQuiesce += dt
      ledger.check((0, i), chk)
      if (sinceQuiesce >= QuiesceEveryS) { Main.quiesce(spark); sinceQuiesce = 0.0 }
      threadsAt = Diagnostics.threadCpu()
      i += 1
    }
    diag.cpuSplit(threads0, Diagnostics.threadCpu(), os.getProcessCpuTime - proc0)
    val jvm1 = Diagnostics.jitAndGcMs()
    diag.put("timed_jit_ms", (jvm1._1 - jvm0._1).toString)
    diag.put("timed_gc_ms", (jvm1._2 - jvm0._2).toString)
    fx.settle().foreach { case (j, o) => ledger.add((0, j), o) }

    val items = ledger.outcomes.collect { case ((_, j), o) if j >= 0 => o.items }.sum
    diag.put("setup_repeats_s", builds.map(_._2).mkString("[", ", ", "]"))
    diag.put("warmup_s", warmS.toString)
    diag.put("session_start_s", sessionS.toString)
    diag.put("operations_timed", i.toString)
    diag.put("items", items.toString)
    diag.put("latency_ms", lat.map(x => f"$x%.3f").mkString("[", ", ", "]"))
    Result(ledger.failed == 0, ledger.attempted, ledger.failed, Seq(
      ("setup_s", sessionS + Stats.median(builds.map(_._2)) + warmS, "s"),
      ("items_per_s", Workloads.ratio(items.toDouble, opS), "1/s"),
      ("latency_p50_ms", Stats.quantile(lat.toSeq, 0.5), "ms"),
      ("latency_p90_ms", Stats.quantile(lat.toSeq, 0.9), "ms"),
      ("cpu_ms_per_item", Workloads.ratio(cpuNs / 1e6, items.toDouble), "ms"),
      ("recall", fx.recall, "fraction"),
      ("space_amp", fx.spaceAmp, "ratio"),
    ), ledger.problems)
  }
}

object Diagnostics {
  /** CPU the JVM's Java threads spent between two [[threadCpu]] samples:
    * Spark's task and service threads and the client thread. JIT
    * compiler and GC threads are not Java threads and are left out: in
    * a run of seconds the JIT alone can burn more CPU than the program. */
  def javaCpuNs(before: Map[Long, (String, Long)], after: Map[Long, (String, Long)]): Long =
    after.map { case (id, (_, c)) => c - before.get(id).fold(0L)(_._2) }.sum

  /** Accumulated JIT compilation time and GC time, in ms. */
  def jitAndGcMs(): (Long, Long) = {
    import java.lang.management.ManagementFactory
    (ManagementFactory.getCompilationMXBean.getTotalCompilationTime,
      ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum)
  }

  /** CPU time of every live thread: id -> (name, ns). */
  def threadCpu(): Map[Long, (String, Long)] = {
    val mx = java.lang.management.ManagementFactory.getThreadMXBean
    mx.getThreadInfo(mx.getAllThreadIds).filter(_ != null)
      .map(t => t.getThreadId -> (t.getThreadName, mx.getThreadCpuTime(t.getThreadId))).toMap
  }
}

/** Spin probe and load averages around a run: read with the run's
  * figures to tell a throttled window from a slow program. */
final class Diagnostics {
  private val fields = mutable.LinkedHashMap.empty[String, String]
  def put(k: String, v: String): Unit = fields(k) = v

  /** Where the process CPU of the timed loop went, in ms: Spark task
    * threads, the client thread, other JVM-visible threads, and the rest
    * (JIT compiler and GC threads, which the JVM does not list). */
  def cpuSplit(before: Map[Long, (String, Long)], after: Map[Long, (String, Long)], processNs: Long): Unit = {
    val delta = after.toSeq.map { case (id, (n, c)) => (n, c - before.get(id).fold(0L)(_._2)) }
    def ms(ns: Long) = f"${ns / 1e6}%.1f"
    val exec = delta.filter(_._1.startsWith("Executor task launch")).map(_._2).sum
    val main = delta.filter(_._1 == "main").map(_._2).sum
    val java = delta.map(_._2).sum
    put("timed_cpu_ms", s"""{"process": ${ms(processNs)}, "tasks": ${ms(exec)}, "client": ${ms(main)}, """ +
      s""""other_java": ${ms(java - exec - main)}, "jvm_internal": ${ms(processNs - java)}}""")
  }

  private def loadAvg(): Double =
    java.lang.management.ManagementFactory.getOperatingSystemMXBean.getSystemLoadAverage

  /** `graft.Bench`'s calibration probe: a fixed single-threaded integer
    * spin (~100 ms on an unthrottled core), timed in wall-clock. */
  def calibrate(): Double = {
    val t0 = System.nanoTime()
    var x = 0x9e3779b97f4a7c15L
    var i = 0
    while (i < 150000000) {
      x ^= x << 13; x ^= x >>> 7; x ^= x << 17
      i += 1
    }
    val ms = (System.nanoTime() - t0) / 1e6
    math.floor(ms * 10 + 0.5) / 10 + (if (x == 42L) 1e-9 else 0.0)
  }

  def before(): Unit = { put("load_avg_before", loadAvg().toString); put("cal_ms_before", calibrate().toString) }
  def after(): Unit = { put("cal_ms_after", calibrate().toString); put("load_avg_after", loadAvg().toString) }

  def write(dir: java.io.File, a: Main.Args, r: Result): Unit = {
    dir.mkdirs()
    val name = s"${a.workload.name}-seed${a.seed}-trace${if (a.trace) 1 else 0}-${System.currentTimeMillis()}.json"
    val body = (Seq(
      "workload" -> Json.str(a.workload.name), "seed" -> a.seed.toString, "seconds" -> a.seconds.toString,
      "cores" -> math.min(Runtime.getRuntime.availableProcessors(), 4).toString,
      "result" -> r.json, "problems" -> r.problems.take(50).map(Json.str).mkString("[", ", ", "]")
    ) ++ fields.toSeq).map { case (k, v) => s"  ${Json.str(k)}: $v" }
    java.nio.file.Files.writeString(new java.io.File(dir, name).toPath, body.mkString("{\n", ",\n", "\n}\n"))
    System.err.println(s"perfbench: diagnostics in ${new java.io.File(dir, name)}")
    r.problems.take(20).foreach(p => System.err.println(s"perfbench: FAILED $p"))
  }
}
