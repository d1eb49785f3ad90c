package graft.perfbench

import java.util.concurrent.Executors

import scala.concurrent.duration._
import scala.concurrent.{Await, ExecutionContext, Future}

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

class TraceSpec extends AnyFunSuite with BeforeAndAfterAll {
  private lazy val spark = Session.create(2)
  override def afterAll(): Unit = Session.stop(spark)

  test("union of overlapping intervals counts the overlap once") {
    val xs = Seq(Interval(0, 10), Interval(5, 15), Interval(20, 30), Interval(22, 25), Interval(40, 40))
    assert(Interval.unionLength(xs) == 25)
    assert(xs.map(_.length).sum == 33) // the sum a summing profiler would report
    assert(Interval.unionLength(Nil) == 0)
  }

  test("driver gap of an operation with overlapping jobs stays within [0, wall]") {
    val op = Span(1, 0, "op", "op", 0, 100)
    val jobs = Vector(
      JobRec(0, 1, 10, 70, Seq(0)),
      JobRec(1, 1, 20, 90, Seq(1)),
      JobRec(2, 1, 95, 130, Seq(2))) // runs past the op's end
    val d = TraceData(Vector(op), jobs, Vector.empty, Vector.empty)
    val union = Interval.unionLength(jobs.map(_.interval.clip(op.interval)))
    assert(union == 85 && union <= op.interval.length)
    assert(jobs.map(_.interval.length).sum > op.interval.length) // job-sum exceeds wall
    assert(d.driverGapNs(1) == 15)
  }

  test("self time excludes child spans and the span's own jobs") {
    val spans = Vector(Span(1, 0, "pass", "workload", 0, 100), Span(2, 1, "op", "op", 10, 60))
    val jobs = Vector(JobRec(0, 1, 70, 80, Nil), JobRec(1, 2, 20, 30, Nil))
    val d = TraceData(spans, jobs, Vector.empty, Vector.empty)
    assert(d.selfNs(1) == 40)
    assert(d.selfNs(2) == 40)
    assert(d.jobsUnder(1).map(_.jobId).toSet == Set(0, 1))
  }

  test("concurrent jobs from a pool inside a span: stages go to the job that listed them") {
    val tracer = new Tracer
    tracer.attach(spark)
    val pool = Executors.newFixedThreadPool(2)
    try {
      tracer.span("op", "op") {
        // the pool's threads are created inside the span, so they inherit its id
        implicit val ec: ExecutionContext = ExecutionContext.fromExecutorService(pool)
        val fs = (1 to 4).map { i =>
          Future(spark.range(0, 20000, 1, 4).groupBy((col("id") % (i + 2)).as("k")).count().collect())
        }
        Await.result(Future.sequence(fs), 2.minutes)
      }
    } finally {
      pool.shutdown()
      tracer.detach(spark)
    }
    val d = tracer.report()
    val op = d.spans.find(_.name == "op").get
    assert(d.jobs.nonEmpty && d.jobs.forall(_.span == op.id))
    val byId = d.jobs.map(j => j.jobId -> j).toMap
    assert(d.stages.nonEmpty)
    d.stages.foreach { st =>
      assert(byId.get(st.jobId).exists(_.stageIds.contains(st.stageId)),
        s"stage ${st.stageId} attributed to job ${st.jobId}")
    }
    // every job that ran a shuffle has its stages, not zero
    assert(d.jobs.forall(j => d.stages.exists(_.jobId == j.jobId)))
    val union = Interval.unionLength(d.jobs.map(_.interval.clip(op.interval)))
    assert(union <= op.interval.length)
    assert(d.driverGapNs(op.id) >= 0)
    assert(d.actions.nonEmpty && d.actions.forall(a => a.span == op.id && a.planNs >= 0))
  }
}
