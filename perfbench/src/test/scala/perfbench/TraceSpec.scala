package perfbench

import org.apache.spark.perfbench.ListenerBusAccess
import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

class TraceSpec extends AnyFunSuite {

  /** A tracer on a clock that advances by one tick per reading. */
  private def ticking(): Tracer = {
    var t = 0L
    new Tracer(clock = () => { t += 1; t })
  }

  private def selfOf(tr: Tracer): Map[String, Long] = {
    val self = Span.selfNanos(tr.spans)
    tr.spans.map(s => s.layer -> self(s.id)).toMap
  }

  test("self time of nested spans excludes each child's interval") {
    val tr = ticking()
    tr.span("a") {     // a: 1..10
      tr.span("b") {   // b: 2..7
        tr.span("c")(()) // c: 3..4
        tr.span("d")(()) // d: 5..6
      }
      tr.span("e")(())   // e: 8..9
    }
    val s = tr.spans.map(x => x.layer -> x).toMap
    assert(s("a").nanos == 9 && s("b").nanos == 5 && s("e").nanos == 1)
    assert(selfOf(tr) == Map("a" -> 3L, "b" -> 3L, "c" -> 1L, "d" -> 1L, "e" -> 1L))
    assert(s("c").parent == s("b").id && s("b").parent == s("a").id && s("a").parent == -1)
  }

  test("back-to-back children leave the parent no self time") {
    val spans = Seq(
      Span(0, "p", "build", -1, 0, 0, 20),
      Span(1, "x", "build", 0, 0, 0, 10),
      Span(2, "y", "build", 0, 0, 10, 20))
    assert(Span.selfNanos(spans) == Map(0 -> 0L, 1 -> 10L, 2 -> 10L))
  }

  test("overlapping children are covered once and clipped to the parent") {
    val spans = Seq(
      Span(0, "p", "build", -1, 0, 10, 50),
      Span(1, "x", "build", 0, 0, 5, 20),
      Span(2, "y", "build", 0, 0, 15, 30),
      Span(3, "z", "build", 0, 0, 45, 60))
    assert(Span.selfNanos(spans)(0) == 40L - 20L - 5L)
  }

  test("spans carry the op they ran in") {
    val tr = ticking()
    tr.beginOp(); tr.span("a")(())
    tr.beginOp(); tr.span("b")(())
    assert(tr.spans.map(_.op) == Seq(0, 1))
  }

  test("jobs started inside a child span are charged to the child, not the parent") {
    val spark = SparkSession.builder().master("local[2]").appName("trace-spec")
      .config("spark.ui.enabled", "false")
      .config("spark.driver.host", "127.0.0.1")
      .config("spark.driver.bindAddress", "127.0.0.1")
      .getOrCreate()
    try {
      val sc = spark.sparkContext
      val listener = new SpanListener
      sc.addSparkListener(listener)
      val tr = Tracer.forSpark(sc)
      def job(parts: Int): Unit = sc.parallelize(1 to 100, parts).map(_ * 2).count(): Unit
      job(1) // before any span
      tr.span("parent") {
        job(2)
        tr.span("child") { job(3); job(3) }
        job(2)
      }
      job(1) // after the last span closed
      ListenerBusAccess.drain(sc)
      val byLayer = tr.spans.map(s => s.layer -> listener.counts.get(s.id)).toMap
      val parent = byLayer("parent").get
      val child = byLayer("child").get
      assert(parent.jobs == 2 && parent.tasks == 4)
      assert(child.jobs == 2 && child.tasks == 6)
      assert(listener.counts(-1).jobs == 2 && listener.counts(-1).tasks == 2)
      assert(sc.getLocalProperty(Tracer.SpanKey) == null)

      // A distributed SVD (more than 100 columns): its Lanczos steps are
      // counted as solver jobs, its other jobs are not.
      import org.apache.spark.mllib.linalg.Vectors
      import org.apache.spark.mllib.linalg.distributed.RowMatrix
      val rows = sc.parallelize(0 until 20, 2).map(i =>
        Vectors.sparse(120, Array(i, i + 50, i + 100), Array(1.0 + i, 2.0, 0.5 * i)))
      tr.span("svd")(new RowMatrix(rows, 20, 120).computeSVD(3))
      ListenerBusAccess.drain(sc)
      val svd = listener.counts(tr.spans.find(_.layer == "svd").get.id)
      assert(svd.solverJobs > 0 && svd.solverJobs <= svd.jobs)
      assert(parent.solverJobs == 0 && child.solverJobs == 0)
    } finally spark.stop()
  }
}
