package perfbench

import java.io.File
import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}
import java.util.Comparator
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.{Failure, Random, Success, Try}
import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.databind.node.ObjectNode
import org.apache.spark.sql.SparkSession
import graft.Tables

object Clock {
  private val baseMs = System.currentTimeMillis()
  private val baseNs = System.nanoTime()
  private val os = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]

  /** Epoch milliseconds with sub-millisecond resolution. */
  def nowMs(): Double = baseMs + (System.nanoTime() - baseNs) / 1e6
  /** CPU seconds used by this process so far, all threads. */
  def cpuS(): Double = os.getProcessCpuTime / 1e9
  /** Milliseconds the JIT compilers and the garbage collectors have
    * been busy so far.
    */
  def jvmMs(): (Double, Double) = (
    ManagementFactory.getCompilationMXBean.getTotalCompilationTime.toDouble,
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum.toDouble)
}

/** One execution of one operation. */
case class Rec(pass: Int, op: String, family: String, ms: Double, cpuS: Double,
    error: Option[String], counters: Map[String, Double])

/** Runs one workload in this JVM: set up once, timed from JVM start,
  * then one first pass and warm passes until `--seconds` have elapsed
  * (at least the workload's `minWarmPasses`), then writes the result
  * (and, when traced, the spans) as JSON.
  *
  * {{{
  * Main --workload suite-sf0.1 --seed 1 --seconds 6 --trace 0
  *      --data <input dir> --work <scratch dir> --result <file>
  *      [--expected <file>] [--spans <file>]
  * }}}
  */
object Main {
  private val mapper = new ObjectMapper()

  def session(nproc: Int, work: String): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$nproc]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", nproc.toString)
      .config("spark.sql.optimizer.canChangeCachedPlanOutputPartitioning", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .config("spark.hadoop.hadoop.tmp.dir", s"$work/hadoop-tmp")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  def main(argv: Array[String]): Unit = {
    val args = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = args("workload")
    val seed = args("seed").toLong
    val seconds = args("seconds").toDouble
    val traced = args("trace") == "1"
    val dir = args("data")
    val work = args("work")
    val nproc = Runtime.getRuntime.availableProcessors
    val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime.toDouble
    val wl = Workloads(workload, dir)

    // ---- setup: from JVM start until the session is up and every
    // input table is resolved
    val spark = session(nproc, work)
    def resolveMs(): Double = {
      val r0 = Clock.nowMs()
      wl.tables.foreach(t => Tables.t(spark, dir, t))
      Clock.nowMs() - r0
    }
    val firstResolveMs = resolveMs()
    val setupMs = Clock.nowMs() - jvmStartMs
    val sc = spark.sparkContext

    val tracer = if (traced) Some(new Tracer(spark)) else None
    tracer.foreach(_.install())
    val featureDir = s"$work/features"
    val ctx = Ctx(spark, dir, featureDir, tracer)
    val ops = wl.ops(spark)
    val expected = args.get("expected").map(new File(_)).filter(_.exists).map(mapper.readTree)
      .filter(e => e.get("seed").isNull || e.get("seed").asLong == seed)
      .map(e => e.get("checksums"))

    val recs = mutable.ArrayBuffer[Rec]()
    val firstSum = mutable.HashMap[String, String]()
    val cachedMbAfter = mutable.HashMap[Int, Double]()

    def cachedMb(): Double = sc.getRDDStorageInfo.map(_.memSize).sum / Tracer.MB

    var checkMs = 0.0

    def runOp(pass: Int, op: Op): Rec = {
      val opId = s"p$pass:${op.id}"
      val before = sc.getPersistentRDDs.keySet
      sc.setJobGroup(opId, opId)
      val c0 = Clock.cpuS()
      val (jit0, gc0) = Clock.jvmMs()
      val t0 = Clock.nowMs()
      tracer.foreach(_.begin(opId, t0))
      val out = Try(op.run(ctx))
      val t1 = Clock.nowMs()
      val c1 = Clock.cpuS()
      val (jit1, gc1) = Clock.jvmMs()
      tracer.fold(Tracer.drain(sc))(_.end(t1))
      sc.setJobGroup("check", "untimed output check")
      val checked = out.flatMap(check => Try(check()))
      Tracer.drain(sc)
      sc.clearJobGroup()
      checkMs += Clock.nowMs() - t1
      val error = checked match {
        case Failure(e) => Some(e.toString.takeWhile(_ != '\n').take(300))
        case Success(c) =>
          val want = expected.flatMap(e => Option(e.get(op.id))).map(_.asText)
            .orElse(firstSum.get(op.id))
          if (pass == 0) firstSum(op.id) = c.checksum
          want.filter(_ != c.checksum)
            .map(w => s"checksum ${c.checksum} differs from expected $w")
      }
      val extra = checked.map(_.counters).getOrElse(Map.empty) +
        ("cachedplans.cached_rdds" -> (sc.getPersistentRDDs.keySet -- before).size.toDouble) +
        ("jvm.jit_ms" -> (jit1 - jit0)) + ("jvm.gc_ms" -> (gc1 - gc0))
      val counters = tracer.map(_.countersOf(opId)).getOrElse(Map.empty) ++ extra
      Rec(pass, op.id, op.family, t1 - t0, c1 - c0, error, counters)
    }

    // every pass writes its chips into an emptied directory, so a chip
    // whose write failed is missing, never a stale copy
    def clearFeatures(): Unit = {
      val root = Paths.get(featureDir)
      if (Files.exists(root)) {
        val walk = Files.walk(root)
        try walk.sorted(Comparator.reverseOrder()).forEach(p => Files.delete(p))
        finally walk.close()
      }
    }

    def runPass(pass: Int): Unit = {
      clearFeatures()
      new Random(seed * 1000003L + pass).shuffle(ops).foreach(op => recs += runOp(pass, op))
      cachedMbAfter(pass) = cachedMb()
    }

    runPass(0)
    val loop0 = Clock.nowMs()
    var pass = 1
    while (pass <= wl.minWarmPasses || Clock.nowMs() - loop0 < seconds * 1000) {
      runPass(pass)
      pass += 1
    }
    val lastPass = pass - 1
    // resolving the tables again in the warm session, untimed
    val warmResolveMs = resolveMs()

    // ---- end-to-end metrics
    val first = recs.filter(_.pass == 0)
    val warm = recs.filter(_.pass > 0)
    val warmPasses = warm.groupBy(_.pass).values.toSeq
    val lat = Stats.pct(warm.map(_.ms).toSeq, 50)
    val p90 = Stats.pct(warm.map(_.ms).toSeq, 90)
    val failed = recs.filter(_.error.nonEmpty)
    val root = mapper.createObjectNode()
    root.put("workload", workload).put("seed", seed).put("nproc", nproc)
      .put("traced", traced).put("warm_passes", lastPass)
    val e2e = root.putObject("e2e")
    def metric(node: ObjectNode, name: String, value: Double, unit: String,
        samples: Int): ObjectNode =
      node.putObject(name).put("value", value).put("unit", unit).put("samples", samples)
    metric(e2e, "setup_s", setupMs / 1000, "s", 1)
    metric(e2e, "first_pass_s", first.map(_.ms).sum / 1000, "s", 1)
    metric(e2e, "first_pass_cpu_s", first.map(_.cpuS).sum, "s", 1)
    metric(e2e, "warm_pass_s", Stats.median(warmPasses.map(_.map(_.ms).sum)) / 1000, "s",
      warmPasses.size)
    metric(e2e, "warm_cpu_s", Stats.median(warmPasses.map(_.map(_.cpuS).sum)), "s",
      warmPasses.size)
    metric(e2e, "op_p50_ms", lat.value, "ms", lat.samples).put("beyond", lat.beyond)
      .put("resolved", lat.resolved())
    metric(e2e, "op_p90_ms", p90.value, "ms", p90.samples).put("beyond", p90.beyond)
      .put("resolved", p90.resolved())
    metric(e2e, "failed_frac", failed.size.toDouble / recs.size, "ratio", recs.size)
    metric(e2e, "cached_mb", cachedMbAfter(lastPass), "MB", 1)
    val passS = root.putArray("pass_s")
    (0 to lastPass).foreach(p => passS.add(recs.filter(_.pass == p).map(_.ms).sum / 1000))
    root.put("attempted", recs.size).put("failed", failed.size)
      .put("check_s", checkMs / 1000).put("jvm_s", (Clock.nowMs() - jvmStartMs) / 1000)
    val failures = root.putArray("failures")
    failed.foreach(r => failures.addObject().put("op", r.op).put("pass", r.pass)
      .put("error", r.error.get))
    val sums = root.putObject("checksums")
    firstSum.toSeq.sorted.foreach { case (k, v) => sums.put(k, v) }
    val opMs = root.putObject("op_ms")
    recs.groupBy(_.op).toSeq.sortBy(_._1).foreach { case (op, rs) =>
      val o = opMs.putObject(op).put("first", rs.filter(_.pass == 0).map(_.ms).sum)
        .put("warm_median", Stats.median(rs.filter(_.pass > 0).map(_.ms).toSeq))
      val cpu = o.putArray("warm_cpu_s")
      rs.filter(_.pass > 0).sortBy(_.pass).foreach(r => cpu.add(r.cpuS))
      val jit = o.putArray("warm_jit_ms")
      rs.filter(_.pass > 0).sortBy(_.pass).foreach(r => jit.add(r.counters("jvm.jit_ms")))
    }

    // ---- per-layer metrics (traced runs)
    tracer.foreach { t =>
      val spans = t.allSpans
      val self = Spans.selfMs(spans)
      val passOf = (op: String) => op.takeWhile(_ != ':').stripPrefix("p").toInt
      def perPass(p: Int): Map[String, Double] = {
        val rs = recs.filter(_.pass == p)
        val sum = mutable.HashMap[String, Double]().withDefaultValue(0.0)
        Tracer.Keys.foreach(sum(_) = 0.0)
        rs.foreach(_.counters.foreach { case (k, v) => sum(k) += v })
        Workloads.modules.foreach { case (f, _) =>
          sum(s"queries.$f.ms") = rs.filter(_.family == f).map(_.ms).sum
        }
        Seq("op" -> "self.op_ms", "dispatch.job" -> "self.job_ms").foreach { case (n, key) =>
          sum(key) = spans.filter(s => s.name == n && passOf(s.op) == p).map(s => self(s.id)).sum
        }
        sum("dispatch.empty_task_frac") =
          if (sum("dispatch.tasks_run") == 0) 0.0
          else sum("dispatch.empty_tasks") / sum("dispatch.tasks_run")
        sum("cachedplans.cached_mb") = cachedMbAfter(p)
        sum.toMap
      }
      val firstL = perPass(0) + ("tables.resolve_ms" -> firstResolveMs)
      val warmByPass = (1 to lastPass).map(perPass)
      val warmL = warmByPass.flatMap(_.keySet).distinct.map { k =>
        k -> Stats.median(warmByPass.map(_.getOrElse(k, 0.0)))
      }.toMap + ("tables.resolve_ms" -> warmResolveMs)
      val layers = root.putObject("layers")
      Seq("first" -> firstL, "warm" -> warmL).foreach { case (tag, m) =>
        m.toSeq.sortBy(_._1).foreach { case (k, v) => layers.put(s"$tag.$k", v) }
      }
      args.get("spans").foreach { path =>
        val w = new java.io.PrintWriter(path, "UTF-8")
        try spans.foreach { s =>
          w.println(mapper.writeValueAsString(mapper.createObjectNode()
            .put("id", s.id).put("parent", s.parent).put("op", s.op).put("name", s.name)
            .put("start_ms", s.start).put("end_ms", s.end).put("self_ms", self(s.id))))
        } finally w.close()
        root.put("spans_file", path)
      }
    }
    mapper.writerWithDefaultPrettyPrinter().writeValue(new File(args("result")), root)
    spark.stop()
  }
}
