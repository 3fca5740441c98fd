package perfbench

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

class TraceSpec extends AnyFunSuite with BeforeAndAfterAll {
  private lazy val spark = SparkSession.builder().master("local[2]")
    .config("spark.ui.enabled", "false").config("spark.sql.shuffle.partitions", "2").getOrCreate()
  override def afterAll(): Unit = spark.stop()

  private def span(id: Int, parent: Int, start: Double, end: Double, name: String = "s") = {
    val s = new Span(id, name, parent, start); s.endMs = end; s
  }

  test("covered length is the union of the intervals, clipped") {
    assert(Intervals.coveredLength(Nil, (0, 10)) == 0)
    assert(Intervals.coveredLength(Seq((1.0, 3.0), (2.0, 5.0), (7.0, 8.0)), (0, 10)) == 5)
    assert(Intervals.coveredLength(Seq((-5.0, 2.0), (9.0, 20.0)), (0, 10)) == 3)
    assert(Intervals.coveredLength(Seq((1.0, 2.0), (2.0, 3.0)), (0, 10)) == 2)
  }

  test("self time is duration minus children; driver time also excludes the span's own jobs") {
    // root [0,100) with children [10,30) and [20,50) (overlapping) and a
    // grandchild [12,14); root's own jobs [0,5) and [40,60)
    val spans = Seq(span(0, -1, 0, 100), span(1, 0, 10, 30), span(2, 0, 20, 50), span(3, 1, 12, 14))
    val acc = new Accounting
    acc.jobStart(1, 0, Some(0), Seq(10)); acc.jobEnd(1, 5)
    acc.jobStart(2, 40, Some(0), Seq(11)); acc.jobEnd(2, 60)
    acc.jobStart(3, 12, Some(3), Seq(12)); acc.jobEnd(3, 14)
    val f = SpanTracer.figures(spans, acc).map(x => x.span.id -> x).toMap
    assert(f(0).selfMs == 60) // 100 - |[10,50)|
    assert(f(0).driverMs == 45) // 100 - |[0,5) ∪ [10,50) ∪ [40,60)|
    assert(f(1).selfMs == 18 && f(1).driverMs == 18)
    assert(f(3).selfMs == 2 && f(3).driverMs == 0)
  }

  test("jobs, stages and tasks go to the span their job was started in") {
    val acc = new Accounting
    acc.jobStart(1, 0, Some(7), Seq(1, 2))
    acc.jobStart(2, 0, Some(8), Seq(2, 3)) // stage 2 reused: stays with span 7
    acc.jobStart(3, 0, None, Seq(4))
    acc.taskEnd(1, 1000, 10, 100, 5, 1, 1)
    acc.taskEnd(2, 2000, 20, 0, 0, 0, 0)
    acc.taskEnd(3, 4000, 0, 7, 3, 0, 0)
    acc.taskEnd(4, 8000, 0, 0, 0, 0, 0) // unattributed job's stage: counted nowhere
    acc.stageCompleted(1, 1); acc.stageCompleted(2, 4); acc.stageCompleted(3, 1)
    val (a, b) = (acc.counters(7), acc.counters(8))
    assert(a.jobs == 1 && a.tasks == 2 && a.cpuNs == 3000 && a.shuffleBytes == 30 && a.inputRecords == 5)
    assert(a.stages == 2 && a.singleTaskStages == 1)
    assert(b.jobs == 1 && b.tasks == 1 && b.cpuNs == 4000 && b.stages == 1 && b.singleTaskStages == 1)
    assert(acc.unattributedJobs == 1)
  }

  test("live Spark: every job of a traced pass lands in exactly one span") {
    val t = new SpanTracer(spark.sparkContext)
    t.start()
    t.span("outer") {
      spark.range(1000).selectExpr("sum(id)").collect()
      t.span("inner")(spark.range(100).repartition(2).count())
    }
    t.stop()
    spark.range(10).count() // after stop: not seen at all
    val figs = SpanTracer.figures(t.spans.toSeq, t.acc).map(f => f.span.name -> f).toMap
    assert(t.acc.unattributedJobs == 0)
    assert(figs("outer").c.jobs >= 1 && figs("inner").c.jobs >= 1)
    assert(t.acc.jobSpan.size == figs.values.map(_.c.jobs).sum)
    assert(figs("inner").c.shuffleBytes > 0)
    assert(figs("outer").selfMs < t.spans.head.endMs - t.spans.head.startMs)
  }
}
