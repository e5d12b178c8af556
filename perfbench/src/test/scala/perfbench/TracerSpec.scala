package perfbench

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class TracerSpec extends AnyFunSuite {
  private lazy val spark = LocalSpark.spark

  test("jobs follow their job group across operations; stages hang below their job") {
    val sc = spark.sparkContext
    val t = new Tracer(spark)
    t.install()
    try {
      def op(id: String)(body: => Unit): Unit = {
        sc.setJobGroup(id, id)
        t.begin(id, Clock.nowMs())
        body
        t.end(Clock.nowMs())
        sc.clearJobGroup()
      }
      op("p0:a") { spark.range(1000).groupBy(col("id") % 3).count().collect() }
      // RDD counts: exactly one job each
      op("p0:b") {
        sc.parallelize(1 to 10).count()
        // a job under a foreign group (as a streaming micro-batch runs
        // under its query's run id) belongs to the open operation
        sc.setJobGroup("some-stream-run", "batch")
        sc.parallelize(1 to 10).count()
        sc.setJobGroup("p0:b", "p0:b")
      }
      // outside any operation (an untimed check): dropped
      sc.setJobGroup("check", "check")
      sc.parallelize(1 to 10).count()
      Tracer.drain(sc)
      sc.clearJobGroup()

      val spans = t.allSpans
      val byId = spans.map(s => s.id -> s).toMap
      val roots = spans.filter(_.name == "op").map(s => s.op -> s.id).toMap
      assert(roots.keySet == Set("p0:a", "p0:b"))
      val jobs = spans.filter(_.name == "dispatch.job")
      assert(jobs.count(_.op == "p0:a") == t.countersOf("p0:a")("dispatch.jobs"))
      assert(jobs.count(_.op == "p0:b") == 2)
      jobs.foreach(j => assert(j.parent == roots(j.op)))
      val stages = spans.filter(_.name == "dispatch.stage")
      assert(stages.nonEmpty)
      stages.foreach { s =>
        assert(byId(s.parent).name == "dispatch.job")
        assert(byId(s.parent).op == s.op)
      }
      val phases = spans.filter(_.name.startsWith("plans."))
      assert(phases.nonEmpty && phases.forall(_.op == "p0:a"))
    } finally t.uninstall()
  }

  test("tasks count executed stages only; a reused shuffle is a skipped stage") {
    val sc = spark.sparkContext
    val t = new Tracer(spark)
    t.install()
    try {
      val pairs = sc.parallelize(1 to 100, 4).map(x => (x % 3, x)).reduceByKey(_ + _, 2)
      Seq("p0:cold", "p1:warm").foreach { id =>
        sc.setJobGroup(id, id)
        t.begin(id, Clock.nowMs())
        pairs.count()
        t.end(Clock.nowMs())
      }
      sc.clearJobGroup()
      val cold = t.countersOf("p0:cold")
      val warm = t.countersOf("p1:warm")
      assert(cold("dispatch.stages") == 2 && cold("dispatch.tasks") == 6)
      assert(cold.getOrElse("dispatch.stages_skipped", 0.0) == 0)
      assert(warm("dispatch.stages") == 1 && warm("dispatch.tasks") == 2)
      assert(warm("dispatch.stages_skipped") == 1)
    } finally t.uninstall()
  }
}
