package graft.perf

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import java.io.File
import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}
import org.apache.spark.sql.SparkSession
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

/** Command line of one benchmark run (all paths are directories).
  *   --workload w --inputs dir --work dir --repo dir --seconds n
  *   --trace 0|1 --seed n --nproc n --out result.json
  */
final case class Args(workload: String, inputs: String, work: String,
    repo: String, seconds: Double, trace: Boolean, seed: Long, nproc: Int,
    out: String)

object Args {
  def parse(argv: Array[String]): Args = {
    val m = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    Args(m("workload"), m("inputs"), m("work"), m("repo"), m("seconds").toDouble,
      m("trace") == "1", m("seed").toLong, m("nproc").toInt, m("out"))
  }
}

/** One client request and its latency. */
final case class Op(kind: String, start: Double, end: Double, ok: Boolean,
    pass: Int) {
  def ms: Double = end - start
}

/** A timed pass over the workload's fixed body. */
final case class Pass(index: Int, start: Double, end: Double, writtenBytes: Long,
    cachedBlocks: Int, cachedBytes: Long) {
  def s: Double = (end - start) / 1000.0
}

/** Run state shared by the workloads: ops, output checks and paths. */
final class Ctx(val a: Args, val rec: Recorder) {
  val ops = mutable.ArrayBuffer[Op]()
  var attempted = 0L
  var failed = 0L
  val failures = mutable.ArrayBuffer[String]()
  var pass = 0
  val warehouse = s"${a.work}/warehouse"
  val output = s"${a.work}/output"

  /** Time one client request; a thrown error counts as a failed op. */
  def op[T](kind: String)(body: => T): Option[T] = {
    attempted += 1
    val t0 = Recorder.nowMs
    try {
      val r = rec.span(kind)(body)
      ops += Op(kind, t0, Recorder.nowMs, ok = true, pass)
      Some(r)
    } catch {
      case NonFatal(e) =>
        ops += Op(kind, t0, Recorder.nowMs, ok = false, pass)
        fail(s"$kind: $e")
        None
    }
  }

  /** One output check, counted in attempted/failed. */
  def check(ok: => Boolean, what: => String): Unit = {
    attempted += 1
    val passed = try ok catch { case NonFatal(e) => false }
    if (!passed) fail(s"check: $what")
  }

  private val deferred = mutable.ArrayBuffer[() => Unit]()

  /** Output checks to run once the pass timer has stopped, so `run_s`
    * holds none of the harness's own reads.
    */
  def later(checks: => Unit): Unit = deferred += (() => checks)

  def runDeferred(): Unit = {
    deferred.foreach(f => try f() catch { case NonFatal(e) => fail(s"check: $e") })
    deferred.clear()
  }

  def fail(msg: String): Unit = {
    failed += 1
    if (failures.size < 50) failures += msg
    System.err.println(s"[perfbench] FAIL $msg")
  }
}

trait Workload {
  /** Load-time state: everything the timed body may assume exists. */
  def setup(spark: SparkSession): Unit
  /** The fixed body, once. Ops are recorded through `Ctx.op`, output
    * checks through `Ctx.later`.
    */
  def pass(spark: SparkSession): Unit
  /** Per-layer metrics over the passes of a traced run. */
  def layers(passes: Seq[Pass]): Map[String, Double]
}

object Main {
  val SetupRepeats = 5
  /** Seconds of one warm pass of either workload on a 4-core machine,
    * roughly (7-12 s).
    */
  val NominalPassS = 10.0

  /** Warm passes of a run: about `seconds` of them. A fixed count rather
    * than a deadline, because the JIT keeps speeding passes up for several
    * passes: a median over however many passes fit would move with the
    * machine's speed.
    */
  def warmPasses(seconds: Double): Int = math.max(2, (seconds / NominalPassS).toInt)

  /** A SparkSession on local[nproc] whose warehouse and scratch space
    * sit under `work`.
    */
  def session(nproc: Int, work: String): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$nproc]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", nproc.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.legacy.bucketedTableScan.outputOrdering", "true")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .config("spark.local.dir", s"$work/spark-local")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  /** The middle value, or the mean of the two middle values. */
  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) Double.NaN
    else {
      val s = xs.sorted
      (s((s.size - 1) / 2) + s(s.size / 2)) / 2
    }

  /** (bytes, mtime) of every regular file under the roots. */
  def snapshot(roots: Seq[String]): Map[String, (Long, Long)] =
    roots.map(Paths.get(_)).filter(Files.exists(_)).flatMap { r =>
      val st = Files.walk(r)
      try st.iterator().asScala.filter(Files.isRegularFile(_)).map { p =>
        p.toString -> (Files.size(p), Files.getLastModifiedTime(p).toMillis)
      }.toList
      catch { case NonFatal(_) => Nil } // a file removed mid-walk
      finally st.close()
    }.toMap

  /** Bytes of files that are new or changed between two snapshots. */
  def writtenBytes(before: Map[String, (Long, Long)], after: Map[String, (Long, Long)]): Long =
    after.collect { case (p, v) if !before.get(p).contains(v) => v._1 }.sum

  def cachedState(spark: SparkSession): (Int, Long) = {
    val infos = spark.sparkContext.getRDDStorageInfo
    (infos.length, infos.map(i => i.memSize + i.diskSize).sum)
  }

  def main(argv: Array[String]): Unit = {
    val a = Args.parse(argv)
    val rec = new Recorder(s"${a.workload}-${a.seed}-${ProcessHandle.current().pid()}")
    val c = new Ctx(a, rec)
    Seq(c.warehouse, c.output).foreach(d => new File(d).mkdirs())
    val w: Workload = a.workload match {
      case "itdb_library" => new ItdbLibrary(c)
      case "curation_batch" => new CurationBatch(c)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }

    // ---- setup, repeated; the first one is timed from JVM start --------
    val jvmStart = ManagementFactory.getRuntimeMXBean.getStartTime.toDouble
    val setups = mutable.ArrayBuffer[Double]()
    var spark: SparkSession = null
    for (i <- 0 until SetupRepeats) {
      if (spark != null) spark.stop()
      val t0 = if (i == 0) jvmStart else Recorder.nowMs
      spark = session(a.nproc, a.work)
      rec.session = spark
      rec.span("setup")(w.setup(spark))
      setups += (Recorder.nowMs - t0) / 1000.0
      System.err.println(f"[perfbench] setup $i ${setups.last}%.2f s")
    }

    // ---- timed body: one cold pass, then the warm passes ---------------
    // a traced run records listener counters for all of its passes
    val passes = mutable.ArrayBuffer[Pass]()
    val roots = Seq(c.warehouse, c.output)
    if (a.trace) rec.startTracing(spark)
    def runPass(): Unit = {
      val before = snapshot(roots)
      val p0 = Recorder.nowMs
      rec.span("pass")(w.pass(spark))
      val p1 = Recorder.nowMs
      val (blocks, bytes) = cachedState(spark)
      passes += Pass(c.pass, p0, p1, writtenBytes(before, snapshot(roots)), blocks, bytes)
      rec.span("check")(c.runDeferred())
      System.err.println(f"[perfbench] pass ${c.pass} ${passes.last.s}%.2f s")
      c.pass += 1
    }
    // the first pass runs cold (class loading, JIT, code generation); the
    // warm passes after it are what run_s and op_p50_ms report
    (0 to warmPasses(a.seconds)).foreach(_ => runPass())
    if (a.trace) rec.stopTracing(spark)

    // ---- metrics -------------------------------------------------------
    // the live heap: the least heap in use over a few full collections
    val heapMb = (1 to 3).map { _ =>
      System.gc()
      Thread.sleep(200)
      ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
    }.min
    val warm = passes.tail.toSeq
    val runS = median(warm.map(_.s))
    val e2e = Map(
      "setup_s" -> median(setups.toSeq),
      "run_s" -> runS,
      "op_p50_ms" -> median(c.ops.filter(o => o.ok && o.pass > 0).map(_.ms).toSeq),
      "written_mb" -> median(passes.map(_.writtenBytes / 1048576.0).toSeq),
      "retained_heap_mb" -> heapMb)
    val layers = if (a.trace) {
      val all = passes.toSeq
      w.layers(all) ++ sparkLayers(c, all) ++ Map(
        "spark.cold_first_ms" -> (passes.head.s - runS) * 1000,
        // run_s of this traced run: minus the untraced run_s, the overhead
        "trace.run_s" -> runS,
        "trace.overhead_pct" -> 100.0 * rec.selfNs / 1e6 / all.map(p => p.end - p.start).sum)
    } else Map.empty[String, Double]
    val conf = spark.sparkContext.getConf
    val env = Map(
      "master" -> conf.get("spark.master"),
      "default_parallelism" -> spark.sparkContext.defaultParallelism,
      "shuffle_partitions" -> spark.conf.get("spark.sql.shuffle.partitions"),
      "driver_xmx_mb" -> Runtime.getRuntime.maxMemory() / 1048576,
      "nproc" -> a.nproc)
    val detail = Map(
      "setups_s" -> setups.toSeq,
      "passes" -> passes.map(p => Map("index" -> p.index, "s" -> p.s,
        "written_bytes" -> p.writtenBytes,
        "cached_blocks" -> p.cachedBlocks, "cached_bytes" -> p.cachedBytes)).toSeq,
      "ops" -> c.ops.size)
    Json.write(a.out, Map("attempted" -> c.attempted, "failed" -> c.failed,
      "failures" -> c.failures.toSeq, "e2e" -> e2e, "layers" -> layers,
      "env" -> env, "detail" -> detail))
    if (a.trace) writeTrace(c, s"${a.work}/trace.json")
    spark.stop()
  }

  /** Run-level Spark layers, per pass (the per-op ones are medians over
    * the ops; the cached state is the RDD storage census after the last
    * pass).
    */
  def sparkLayers(c: Ctx, passes: Seq[Pass]): Map[String, Double] = {
    val rec = c.rec
    val ops = c.ops.toSeq
    val s = rec.sums(passes.flatMap(p => rec.jobsIn(p.start, p.end)))
    val n = passes.size.toDouble
    val mb = 1048576.0
    Map(
      "spark.planning_ms" -> median(ops.map(o => rec.planningIn(o.start, o.end))),
      "spark.jobs" -> median(ops.map(o => rec.jobsIn(o.start, o.end).size.toDouble)),
      "spark.driver_gap_ms" -> median(ops.map(o => rec.driverGapMs(o.start, o.end))),
      "spark.task_s" -> s.runMs / 1000.0 / n,
      "spark.shuffle_mb" -> s.shuffleB / mb / n,
      "spark.spill_mb" -> s.spillB / mb / n,
      "spark.input_mb" -> s.inputB / mb / n,
      "spark.gc_s" -> s.gcMs / 1000.0 / n,
      "spark.cached_mb" -> passes.last.cachedBytes / mb,
      "spark.cached_blocks" -> passes.last.cachedBlocks.toDouble)
  }

  /** Spans (name, start, end, parent, run id) with their self time, and the
    * listener counters, written once at the end of a traced run.
    */
  def writeTrace(c: Ctx, path: String): Unit = {
    val rec = c.rec
    val childMs = rec.spans.groupBy(_.parent).view.mapValues(_.map(_.ms).sum).toMap
    val byName = rec.spans.groupBy(_.name).map { case (n, ss) =>
      n -> Map("count" -> ss.size, "total_ms" -> ss.map(_.ms).sum,
        "self_ms" -> ss.map(s => s.ms - childMs.getOrElse(s.id, 0.0)).sum)
    }
    Json.write(path, Map(
      "self_time" -> byName,
      "spans" -> rec.spans.map(s => Map("name" -> s.name, "start" -> s.start,
        "end" -> s.end, "parent" -> s.parent, "run_id" -> s.runId)).toSeq,
      "jobs" -> rec.jobs.asScala.map(j => Map("id" -> j.id, "start" -> j.start,
        "end" -> j.end, "span" -> j.span,
        "call_site" -> j.callSite.linesIterator.take(3).mkString(" | "))).toSeq))
  }

  /** Median duration of the spans of one name, in ms. */
  def spanMs(c: Ctx, name: String): Double = median(c.rec.named(name).map(_.ms))
}

/** Minimal JSON reading (Jackson) and writing for the run files. */
object Json {
  private val mapper = new ObjectMapper()
  def read(path: String): JsonNode = mapper.readTree(new File(path))

  def write(path: String, v: Any): Unit =
    Files.writeString(Paths.get(path), render(v))

  def render(v: Any): String = v match {
    case null => "null"
    case s: String => mapper.writeValueAsString(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case n: Number => n.toString
    case m: scala.collection.Map[_, _] =>
      m.toSeq.sortBy(_._1.toString).map { case (k, x) =>
        mapper.writeValueAsString(k.toString) + ":" + render(x) }.mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(render).mkString("[", ",", "]")
    case other => mapper.writeValueAsString(other.toString)
  }
}

/** Source lines of the program, for attributing a job to the statement
  * whose action launched it (its call site).
  */
final class CallSites(repo: String) {
  private val files = mutable.Map[String, IndexedSeq[String]]()

  private def source(file: String): IndexedSeq[String] = files.getOrElseUpdate(file, {
    val hits = Files.walk(Paths.get(repo, "src", "main", "scala"))
    try hits.iterator().asScala.find(_.getFileName.toString == file)
      .map(p => Files.readAllLines(p).asScala.toIndexedSeq).getOrElse(IndexedSeq.empty)
    finally hits.close()
  })

  private val Frame = """\(([A-Za-z0-9_]+\.scala):(\d+)\)""".r

  /** The first frame of `callSite` in `file`: its line number. */
  def line(callSite: String, file: String): Option[Int] =
    Frame.findAllMatchIn(callSite).collectFirst {
      case m if m.group(1) == file => m.group(2).toInt
    }

  /** Line ranges of the `// <n>. <TITLE>` section markers of a file. */
  def sections(file: String): Seq[(Int, String)] = {
    val Marker = """^\s*//\s*(\d)\.\s+([A-Z][A-Z-]+).*""".r
    source(file).zipWithIndex.collect {
      case (Marker(_, title), i) => (i + 1, title)
    }
  }

  /** Line of the first `def <name>(` in a file. */
  def defLine(file: String, name: String): Int =
    source(file).indexWhere(_.contains(s"def $name(")) + 1
}
