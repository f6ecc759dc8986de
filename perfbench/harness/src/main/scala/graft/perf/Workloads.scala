package graft.perf

import graft.{CurationPipeline, ItdbPipeline, Tables}
import graft.operators.ItdbOps
import java.nio.file.{Files, Paths}
import org.apache.spark.sql.SparkSession
import scala.jdk.CollectionConverters._
import Main.{median, spanMs}

/** The paper's flow: plist library → tables → stats → index page →
  * per-playlist pages (stars histogram, HTML page, m3u export).
  */
final class ItdbLibrary(c: Ctx) extends Workload {
  val PagesPerPass = 2
  private val xml = s"${c.a.inputs}/library.xml"
  private val truth = Json.read(s"${c.a.inputs}/truth.json")
  private val pages = truth.get("pages").elements().asScala.toIndexedSeq
  private var cursor = 0

  def setup(spark: SparkSession): Unit = ()

  def pass(spark: SparkSession): Unit = {
    val lib = c.rec.span("ingest.plist_load") {
      val l = ItdbPipeline.loadFiles(spark, Seq(xml))
      l.playlistStats.count()
      l
    }
    c.op("itdbops.index_page") {
      (ItdbPipeline.libraryStats(lib, 1).collect().head,
        ItdbOps.starsHistogram(lib.tracks, 1).collect(),
        ItdbOps.groupedHistogram(lib.tracks, 1, "Genre").collect(),
        ItdbOps.shrink(ItdbOps.qualityByGroup(lib.tracks, 1, "Artist"), 10).collect())
    }.foreach { case (stats, hist, genres, best) => c.later {
      c.check(stats.getLong(0) == truth.get("num_tracks").asLong &&
        stats.getLong(1) == truth.get("num_albums").asLong &&
        stats.getLong(2) == truth.get("num_artists").asLong, s"library totals $stats")
      c.check(starMap(hist) == fields(truth.get("stars_histogram")), "library stars histogram")
      c.check(genres.map(_.getLong(2)).sum == truth.get("num_tracks").asLong, "genre histogram total")
      c.check(best.length == 10, "shrink(10) row count")
    }}
    val dir = s"${c.output}/pages"
    new java.io.File(dir).mkdirs()
    for (i <- 0 until PagesPerPass) {
      val page = pages((cursor + i) % pages.size)
      val name = page.get("name").asText
      val base = s"$dir/${name.replaceAll("[^A-Za-z0-9]", "_")}"
      c.op("page") {
        val stars = c.rec.span("itdbops.playlist_page") {
          ItdbPipeline.playlistPage(lib, 1, name).collect()
        }
        c.rec.span("emit.html")(ItdbPipeline.exportPlaylistPage(lib, 1, name, s"$base.html"))
        c.rec.span("emit.m3u")(ItdbPipeline.exportPlaylist(lib, 1, name, s"$base.m3u"))
        stars
      }.foreach { stars => c.later {
        val rows = page.get("rows").asLong
        c.check(starMap(stars) == fields(page.get("stars")), s"$name stars histogram")
        c.check(lines(s"$base.m3u").count(_.startsWith("#ITDBFILE:")) == rows, s"$name m3u rows")
        c.check(lines(s"$base.html").count(_.startsWith("<tr><td>")) == rows, s"$name html rows")
      }}
    }
    cursor += PagesPerPass
    lib.playlistStats.unpersist(blocking = true)
  }

  private def starMap(rows: Array[org.apache.spark.sql.Row]): Map[String, Long] =
    rows.map(r => r.getLong(0).toString -> r.getLong(1)).filter(_._2 > 0).toMap

  private def fields(n: com.fasterxml.jackson.databind.JsonNode): Map[String, Long] =
    n.fields().asScala.map(e => e.getKey -> e.getValue.asLong).toMap

  private def lines(path: String): Seq[String] =
    Files.readAllLines(Paths.get(path)).asScala.toSeq

  def layers(passes: Seq[Pass]): Map[String, Double] = {
    val loads = c.rec.named("ingest.plist_load")
    Map(
      "ingest.plist_load_s" -> spanMs(c, "ingest.plist_load") / 1000.0,
      "ingest.plist_tasks" -> median(loads.map(s =>
        c.rec.leafTasks(c.rec.jobsIn(s.start, s.end)).toDouble)),
      "itdbops.index_page_ms" -> spanMs(c, "itdbops.index_page"),
      "itdbops.playlist_page_ms" -> spanMs(c, "itdbops.playlist_page"),
      "emit.html_ms" -> spanMs(c, "emit.html"),
      "emit.m3u_ms" -> spanMs(c, "emit.m3u"))
  }
}

/** `CurationPipeline.runWithPacking` over the seeded corpus. One pipeline
  * run is one op. Funnel stages are attributed from the call site of each
  * job: the `// <n>. TITLE` section of `CurationPipeline.run` its action
  * sits in, the input scan before the first section, or the packing tail
  * of `runWithPacking`.
  */
final class CurationBatch(c: Ctx) extends Workload {
  import CurationBatch._
  private val out = s"${c.output}/corpus"
  private val truth = Json.read(s"${c.a.inputs}/truth.json")
  private val variant = truth.get("variant").asInt
  private val expected = expectedReports(c.a.repo).get(variant)
  private var first: Option[String] = None
  private val sites = new CallSites(c.a.repo)

  def setup(spark: SparkSession): Unit =
    Tables.documents(spark, c.a.inputs).schema // resolve the footer once

  def pass(spark: SparkSession): Unit =
    c.op("curation.pipeline") {
      val (kept, _, _, rep) = CurationPipeline.runWithPacking(spark, c.a.inputs, out)
      kept.unpersist()
      rep
    }.foreach { rep => c.later {
      val r = rep.curation
      val line = reportLine(rep)
      c.check(r.nDocs == truth.get("docs").asLong, s"nDocs ${r.nDocs} != generated docs")
      c.check(rep.nPlaced == r.nKept, s"nPlaced ${rep.nPlaced} != nKept ${r.nKept}")
      c.check(r.nDocs == r.nQuarantined + r.nExactDupDropped + r.nNearDupDropped +
        r.nQualityDropped + r.nCapDropped + r.nKept, s"funnel does not telescope: $line")
      c.check(spark.read.parquet(out).count() == r.nKept, "written corpus rows != nKept")
      c.check(first.forall(_ == line), s"report differs between passes: $line")
      first = Some(line)
      c.check(expected.contains(line),
        s"report of variant $variant is $line, committed ${expected.getOrElse("none")}")
    }}

  /** Layer metric of a job, from its call site. */
  private def stageOf(callSite: String): Option[String] = {
    val runFrom = sites.defLine(File, "run")
    val packFrom = sites.defLine(File, "runWithPacking")
    val titles = sites.sections(File).filter(_._1 > runFrom)
    sites.line(callSite, File).filter(n => runFrom > 0 && n > runFrom).map { n =>
      if (n >= packFrom && packFrom > 0) "text.pack_s"
      else titles.filter(_._1 <= n).lastOption.map(_._2).getOrElse("") match {
        case "" => "ingest.docs_scan_s"
        case "DECONTAMINATION" => "dedup.decontam_s"
        case "EXACT" => "dedup.exact_s"
        case "NEAR-DUP" => "dedup.neardup_s"
        case "QUALITY" => "text.quality_s"
        case "PER-SOURCE" => "text.cap_s"
        case "WRITE" => "emit.corpus_write_s"
        case other => s"unknown section $other"
      }
    }
  }

  def layers(passes: Seq[Pass]): Map[String, Double] = {
    // a job's stage is charged the wall time since the previous job ended,
    // so the driver time planning an action counts with the action's stage
    val perPass = passes.map { p =>
      var cursor = p.start
      c.rec.jobsIn(p.start, p.end).sortBy(_.start).map { j =>
        val s = math.max(0.0, j.end - cursor) / 1000.0
        cursor = math.max(cursor, j.end.toDouble)
        stageOf(j.callSite) -> s
      }.groupMapReduce(_._1)(_._2)(_ + _)
    }
    val stages = StageMetrics.map(n => n -> median(perPass.map(_.getOrElse(Some(n), 0.0)))).toMap
    // an attribution that no longer matches the program's sections fails
    // the run instead of reading 0
    val unattributed = median(passes.zip(perPass).map { case (p, m) =>
      1.0 - StageMetrics.map(n => m.getOrElse(Some(n), 0.0)).sum / p.s
    })
    stages.foreach { case (n, v) => c.check(v > 0, s"no job attributed to $n") }
    c.check(unattributed <= MaxUnattributed,
      f"${unattributed * 100}%.1f%% of a pass is attributed to no funnel stage")
    stages + ("curation.unattributed_pct" -> unattributed * 100)
  }
}

object CurationBatch {
  val File = "CurationPipeline.scala"
  val StageMetrics = Seq("ingest.docs_scan_s", "dedup.decontam_s", "dedup.exact_s",
    "dedup.neardup_s", "text.quality_s", "text.cap_s", "emit.corpus_write_s", "text.pack_s")
  /** Largest share of a pass that may fall outside every funnel stage. */
  val MaxUnattributed = 0.05
  val ExpectedFile = "perfbench/expected/curation_batch.txt"

  /** The report as one comparable line: the funnel, then packing. */
  def reportLine(rep: CurationPipeline.PackedReport): String =
    s"${rep.curation.productIterator.mkString(",")};${rep.nPlaced},${rep.nTokens},${rep.nSequences}"

  /** Committed report line per corpus variant (`<variant>\t<line>`). */
  def expectedReports(repo: String): Map[Int, String] = {
    val p = Paths.get(repo, ExpectedFile)
    if (!Files.exists(p)) Map.empty
    else Files.readAllLines(p).asScala.filter(_.contains("\t")).map { l =>
      val Array(v, line) = l.split("\t", 2)
      v.trim.toInt -> line.trim
    }.toMap
  }
}

/** Prints the report line of `CurationPipeline.runWithPacking` for each
  * generated curation_batch input directory, as `<variant>\t<line>`: the
  * content of the committed expected-report file.
  *   graft.perf.Record --work dir --nproc n inputs-dir...
  */
object Record {
  def main(argv: Array[String]): Unit = {
    val (opts, dirs) = argv.splitAt(4)
    val m = opts.grouped(2).map { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val spark = Main.session(m("nproc").toInt, m("work"))
    dirs.zipWithIndex.foreach { case (dir, i) =>
      val variant = Json.read(s"$dir/truth.json").get("variant").asInt
      val (kept, _, _, rep) = CurationPipeline.runWithPacking(spark, dir, s"${m("work")}/out-$i")
      kept.unpersist()
      println(s"$variant\t${CurationBatch.reportLine(rep)}")
    }
    spark.stop()
  }
}
