package perfbench

import org.apache.spark.sql.SparkSession

import scala.collection.mutable

/** The traced run. For each workload in turn: set up, run a fixed number
  * of operations untraced, then as many again traced, and report each
  * span's figures per call. Never a source of end-to-end numbers. */
object Traced {
  /** Operations per pass: few, but every span runs (a search block holds
    * one text query). */
  val PassOps: Map[String, Int] = Map("ingest" -> 2, "search" -> SearchInputs.Block, "curate" -> 2)

  val SpanStats: Seq[(String, String)] = Seq("wall_ms" -> "ms", "jobs" -> "count", "tasks" -> "count",
    "exec_cpu_ms" -> "ms", "driver_ms" -> "ms", "shuffle_bytes" -> "bytes", "io_bytes" -> "bytes")

  def run(spark: SparkSession, a: Main.Args, work: String, diag: Diagnostics): Result = {
    val ledger = new Ledger
    val metrics = mutable.ArrayBuffer.empty[(String, Double, String)]
    val spanDump = mutable.ArrayBuffer.empty[String]
    var unattributed = 0L
    Workloads.all.zipWithIndex.foreach { case (w, wi) =>
      val dir = s"$work/trace-${w.name}"
      val fx = w.setup(spark, dir, a.seed)
      (1 to w.warmupOps).foreach(k => ledger.check((wi, -k), fx.op(-k, NoTrace)))
      Main.quiesce(spark)
      val n = PassOps(w.name)
      def pass(t: Tracer, from: Int): Double = (from until from + n).map { i =>
        val t0 = System.nanoTime()
        val chk = fx.op(i, t)
        val dt = (System.nanoTime() - t0) / 1e9
        ledger.check((wi, i), chk)
        dt
      }.sum
      val plainS = pass(NoTrace, 0)
      Main.quiesce(spark)
      val tracer = new SpanTracer(spark.sparkContext)
      tracer.start()
      val tracedS = pass(tracer, n)
      tracer.span("bench.check")(fx.settle()).foreach { case (i, o) => ledger.add((wi, i), o) }
      tracer.stop()
      unattributed += tracer.acc.unattributedJobs

      val figs = SpanTracer.figures(tracer.spans.toSeq, tracer.acc)
      val byName = figs.groupBy(_.span.name)
      def sum(span: String)(f: SpanTracer.SpanFigures => Double): Double = byName.getOrElse(span, Nil).map(f).sum
      w.spans.foreach { s =>
        val calls = byName.getOrElse(s, Nil).size.toDouble
        def per(f: SpanTracer.SpanFigures => Double) = Workloads.ratio(sum(s)(f), calls)
        Seq(per(_.selfMs), per(_.c.jobs.toDouble), per(_.c.tasks.toDouble), per(_.c.cpuNs / 1e6),
          per(_.driverMs), per(_.c.shuffleBytes.toDouble), per(f => (f.c.inputBytes + f.c.outputBytes).toDouble))
          .zip(SpanStats).foreach { case (v, (stat, unit)) => metrics += ((s"$s.$stat", v, unit)) }
      }
      val ours = figs.filter(f => w.spans.contains(f.span.name))
      metrics += ((s"${w.name}.spark.single_task_stage_frac",
        Workloads.ratio(ours.map(_.c.singleTaskStages).sum.toDouble, ours.map(_.c.stages).sum.toDouble), "fraction"))
      metrics += ((s"${w.name}.trace_overhead_frac", tracedS / plainS - 1, "fraction"))
      w.name match {
        case "ingest" =>
          metrics += (("embed.encode.us_per_chunk", Workloads.ratio(sum("embed.encode")(_.c.cpuNs / 1e3),
            sum("store.append")(_.c.outputRecords.toDouble)), "us"))
        case "search" =>
          metrics += (("operators.ivf_search.rows_examined_per_result", Workloads.ratio(
            sum("operators.ivf_search")(_.c.inputRecords.toDouble), tracer.units("ivf.results").toDouble), "ratio"))
        case "curate" =>
          metrics += (("operators.minhash_pairs.shuffle_bytes_per_pair", Workloads.ratio(
            sum("operators.minhash_pairs")(_.c.shuffleBytes.toDouble), tracer.units("minhash.pairs").toDouble), "bytes"))
      }
      figs.foreach { f =>
        spanDump += s"""{"workload": "${w.name}", "id": ${f.span.id}, "parent": ${f.span.parent}, "name": "${f.span.name}", """ +
          s""""start_ms": ${Json.num(f.span.startMs)}, "end_ms": ${Json.num(f.span.endMs)}, "self_ms": ${Json.num(f.selfMs)}, """ +
          s""""driver_ms": ${Json.num(f.driverMs)}, "jobs": ${f.c.jobs}, "stages": ${f.c.stages}, "tasks": ${f.c.tasks}, """ +
          s""""exec_cpu_ms": ${Json.num(f.c.cpuNs / 1e6)}, "shuffle_bytes": ${f.c.shuffleBytes}, """ +
          s""""input_bytes": ${f.c.inputBytes}, "output_bytes": ${f.c.outputBytes}}"""
      }
      diag.put(s"${w.name}_untraced_s", plainS.toString)
      diag.put(s"${w.name}_traced_s", tracedS.toString)
      Main.deleteTree(new java.io.File(dir))
      Main.quiesce(spark)
    }
    val traceFile = new java.io.File(new java.io.File(a.out), s"trace-seed${a.seed}.json")
    java.nio.file.Files.writeString(traceFile.toPath, spanDump.mkString("[\n", ",\n", "\n]\n"))
    diag.put("trace_file", Json.str(traceFile.getPath))
    diag.put("unattributed_jobs", unattributed.toString)
    val problems = ledger.problems ++ (if (unattributed > 0) Seq(s"$unattributed Spark jobs ran outside any span") else Nil)
    Result(problems.isEmpty, ledger.attempted, ledger.failed + (if (unattributed > 0) 1 else 0), metrics.toSeq, problems)
  }
}
