package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

/** The benchmark's JVM side. One closed-loop caller on one `local[N]`
  * session runs a workload's calls back to back, pass after pass: one
  * cold pass in the fresh JVM, then warm passes until the run's seconds
  * are spent. Each call gets a fresh input directory. Outputs are checked
  * in a separate, untimed pass. Everything measured is written to
  * `<work>/result.json` for `run.py` to aggregate.
  *
  * Usage: Harness <workload> <staged-inputs-dir> <work-dir> <seconds> <trace 0|1> <cores>
  *   <cells of the generated CSV trio's seed> <cells of the wide matrix>
  */
object Harness {
  private val MinWarmPasses = 2
  private val MaxPasses = 12
  /** Samples a p90 needs: ten beyond it (guide: report the highest
    * percentile with at least ten samples beyond it). */
  private val CommitSamples = 100

  final case class CallRecord(pass: Int, traced: Boolean, call: Call, wallS: Double,
      error: Option[String], extra: Map[String, Double], stats: Option[CallStats],
      startMs: Long, endMs: Long)

  def main(args: Array[String]): Unit = {
    val Array(workload, data, work, secondsArg, traceArg, coresArg, genCells, wideCells) = args
    val seconds = secondsArg.toDouble
    val trace = traceArg == "1"
    val cores = coresArg.toInt
    val workDir = Paths.get(work).toAbsolutePath
    val builder = SparkSession.builder()
      .master(s"local[$cores]")
      .appName(s"perfbench-$workload")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", workDir.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", workDir.resolve("warehouse").toString)
    if (trace) builder.config("spark.sql.queryExecutionListeners", classOf[PlanListener].getName)
    val spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    def sinceStart = (System.currentTimeMillis() -
      ManagementFactory.getRuntimeMXBean.getStartTime) / 1e3
    val sessionS = sinceStart

    // No warm-up query: the cold pass pays the first-query costs (class
    // loading, codegen, JIT), as a one-shot batch job does. A warm-up query
    // would move about 6 s of them into set-up without shortening the run.
    val calls: Seq[Call] = workload match {
      case "ipf_alloc" => Workloads.ipfAlloc(genCells.toDouble, wideCells.toDouble)
      case "llm_curation" => Workloads.llmCuration
      case "table_ops" => Workloads.tableOps
      case other => sys.error(s"unknown workload $other")
    }
    val staged = scala.util.Using.resource(Files.list(Paths.get(data)))(
      _.iterator().asScala.toList.sortBy(_.toString))
    val passes = if (trace) MaxPasses * 3 else MaxPasses
    val dirs = (0 to passes).map { p =>
      calls.map(c => freshDir(workDir.resolve(s"calls/p$p/${c.name}"), staged)).toVector
    }
    val setupS = sinceStart
    println(f"[perfbench] set-up: session $sessionS%.2f s, directories ${setupS - sessionS}%.2f s")

    val records = mutable.ArrayBuffer.empty[CallRecord]
    val passStats = mutable.ArrayBuffer.empty[Map[String, Any]]
    val osBean = ManagementFactory.getOperatingSystemMXBean
      .asInstanceOf[com.sun.management.OperatingSystemMXBean]
    def runPass(p: Int, traced: Boolean): Unit = {
      val passDir = workDir.resolve(s"calls/p$p").toString
      if (workload == "table_ops") Workloads.registerCatalog(spark, p, s"$passDir/glpr")
      if (traced) Tracer.attach(spark.sparkContext)
      val cpu0 = osBean.getProcessCpuTime
      var wall = 0.0
      calls.zipWithIndex.foreach { case (call, i) =>
        val rec = timeCall(spark, call, Ctx(spark, dirs(p)(i), p, passDir,
          (_, df) => Workloads.noop(df)), p, traced)
        wall += rec.wallS
        records += rec
      }
      val cpu = (osBean.getProcessCpuTime - cpu0) / 1e9
      if (traced) Tracer.detach(spark.sparkContext)
      passStats += Map("pass" -> p, "traced" -> traced, "wall_s" -> wall, "cpu_s" -> cpu,
        "heap_mb" -> retainedHeapMb())
    }

    // Cold pass, then warm passes until the seconds are spent. A traced
    // run traces every warm pass but the second, so the difference between
    // the median traced pass and the untraced one is the tracing overhead,
    // and keeps going until the commit-latency percentiles have their
    // samples.
    val t0 = System.nanoTime()
    runPass(0, traced = false)
    var p = 1
    def commitSamples = records.count(r => r.traced && r.call.commit)
    def needMore: Boolean = {
      val elapsed = (System.nanoTime() - t0) / 1e9
      elapsed < seconds || p <= MinWarmPasses ||
        (trace && workload == "table_ops" && commitSamples < CommitSamples)
    }
    while (p <= passes && needMore) {
      runPass(p, traced = trace && p != 2)
      p += 1
    }

    // The untimed check pass: every call once more, on its own fresh
    // directories, writing its outputs as parquet for run.py's oracle
    // compare; the IPF fits are checked here against their targets.
    val elapsedAtChecks = (System.nanoTime() - t0) / 1e9
    val checkP = passes + 1
    val checkPassDir = workDir.resolve(s"calls/p$checkP").toString
    val outDir = workDir.resolve("out")
    if (workload == "table_ops") Workloads.registerCatalog(spark, checkP, s"$checkPassDir/glpr")
    val checkCalls = if (workload == "ipf_alloc") calls.filter(_.name.startsWith("q")) else calls
    val checkErrors = mutable.ArrayBuffer.empty[(String, String)]
    var lastCtx: Ctx = null
    checkCalls.foreach { call =>
      val dir = freshDir(workDir.resolve(s"calls/p$checkP/${call.name}"), staged)
      lastCtx = Ctx(spark, dir, checkP, checkPassDir, (label, df) =>
        df.write.mode("overwrite").parquet(outDir.resolve(label).toString))
      try call.body(lastCtx)
      catch { case e: Throwable => checkErrors += call.name -> describe(e) }
    }
    val checks: Seq[Check] = workload match {
      case "ipf_alloc" =>
        try Workloads.ipfAllocChecks(spark,
          freshDir(workDir.resolve(s"calls/p$checkP/ipf_checks"), staged))
        catch { case e: Throwable => checkErrors += "ipf_checks" -> describe(e); Nil }
      case "table_ops" =>
        lastCtx.emit("final_state", Workloads.finalState(lastCtx))
        Nil
      case _ => Nil
    }
    println(f"[perfbench] checks ${(System.nanoTime() - t0) / 1e9 - elapsedAtChecks}%.2f s")
    val oracle = checkCalls.map(_.name).flatMap(q => graft.SparkEntry.oracleSql.get(q).map(q -> _))

    val json = Json.obj(
      "workload" -> workload,
      "cores" -> cores,
      "jvm_setup_s" -> setupS,
      "passes" -> passStats.toSeq,
      "calls" -> records.toSeq.map(callJson),
      "task_failures" -> Tracer.taskFailures,
      "checks" -> checks.map(c => Map("name" -> c.name, "ok" -> c.ok, "detail" -> c.detail)),
      "check_errors" -> checkErrors.toSeq.map { case (n, e) => Map("name" -> n, "error" -> e) })
    Files.writeString(outDir.resolve("oracle_sql.json"), Json.obj(oracle: _*))
    Files.writeString(workDir.resolve("result.json"), json)
    spark.stop()
  }

  private def describe(e: Throwable): String =
    s"${e.getClass.getName}: ${Option(e.getMessage).getOrElse("").linesIterator.take(3).mkString(" | ")}"

  private def timeCall(spark: SparkSession, call: Call, ctx: Ctx, pass: Int,
      traced: Boolean): CallRecord = {
    val key = s"$pass/${call.name}"
    if (traced) {
      Tracer.current = key
      spark.sparkContext.setLocalProperty(Tracer.CallProperty, key)
    }
    val startMs = System.currentTimeMillis()
    val t0 = System.nanoTime()
    val (error, extra) =
      try (None, call.body(ctx))
      catch { case e: Throwable => (Some(describe(e)), Map.empty[String, Double]) }
    val wall = (System.nanoTime() - t0) / 1e9
    val endMs = System.currentTimeMillis()
    println(f"[perfbench] pass $pass%d ${call.name}%s $wall%.3f s${error.fold("")(" FAILED " + _)}")
    val stats = if (traced) {
      org.apache.spark.PerfbenchBus.drain(spark.sparkContext)
      spark.sparkContext.setLocalProperty(Tracer.CallProperty, null)
      Some(Tracer.take(key))
    } else None
    CallRecord(pass, traced, call, wall, error, extra, stats, startMs, endMs)
  }

  /** Driver heap in use after a forced collection: what the pass left live. */
  private def retainedHeapMb(): Double = {
    (1 to 2).foreach { _ => System.gc(); Thread.sleep(50) }
    ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
  }

  /** A new directory holding a hard link to every staged input: same bytes,
    * a path no earlier call has read. */
  private def freshDir(dir: Path, staged: Seq[Path]): String = {
    Files.createDirectories(dir)
    staged.foreach(f => Files.createLink(dir.resolve(f.getFileName), f))
    dir.toString
  }

  /** Merged length of job spans inside [from, to], in seconds. */
  private def covered(spans: Seq[(Long, Long)], from: Long, to: Long): Double = {
    val clipped = spans.map { case (a, b) => (math.max(a, from), math.min(b, to)) }
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var total = 0L; var end = Long.MinValue
    clipped.foreach { case (a, b) =>
      if (a >= end) { total += b - a; end = b }
      else if (b > end) { total += b - end; end = b }
    }
    total / 1e3
  }

  private def callJson(r: CallRecord): Map[String, Any] = {
    val base = Map[String, Any]("pass" -> r.pass, "traced" -> r.traced, "group" -> r.call.group,
      "name" -> r.call.name, "commit" -> r.call.commit, "wall_s" -> r.wallS,
      "error" -> r.error.orNull) ++ r.extra
    r.stats.fold(base) { s =>
      val lastJobEnd = (s.jobSpans.map(_._2) :+ r.startMs).max
      base ++ Map("jobs" -> s.jobs, "tasks" -> s.tasks, "cpu_s" -> s.cpuNs / 1e9,
        "gc_s" -> s.gcMs / 1e3, "run_s" -> s.runMs / 1e3,
        "shuffle_mb" -> s.shuffleBytes / 1048576.0, "spill_mb" -> s.spillBytes / 1048576.0,
        "plan_s" -> s.planMs / 1e3, "batches" -> s.batches,
        "nojob_s" -> math.max(0.0, r.wallS - covered(s.jobSpans.toSeq, r.startMs, r.endMs)),
        "commit_s" -> math.max(0L, r.endMs - lastJobEnd) / 1e3)
    }
  }
}

/** Just enough JSON for the result file. */
object Json {
  def obj(kv: (String, Any)*): String = kv.map { case (k, v) => s"${str(k)}:${value(v)}" }
    .mkString("{", ",", "}")

  private def str(s: String): String = s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  }.mkString("\"", "", "\"")

  private def value(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => value(x)
    case s: String => str(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case n: Int => n.toString
    case n: Long => n.toString
    case m: Map[_, _] => obj(m.toSeq.map { case (k, x) => k.toString -> x }: _*)
    case xs: Seq[_] => xs.map(value).mkString("[", ",", "]")
    case other => str(other.toString)
  }
}
