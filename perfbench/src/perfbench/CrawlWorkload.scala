package perfbench

import java.nio.file.{Files, Path, Paths}

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.apache.spark.util.sketch.BloomFilter

import graft.core.{Canon, Finding, Imaging, PageKernel, RefSim, SynthWeb}
import graft.crawl.{CrawlConfig, Crawler, PartitionedBloom}
import graft.lake.LakeTable

/** What RefSim says one crawl must produce. */
final case class Expected(
    seen: Set[(String, String, Int)], hostVisits: Map[String, Long],
    admitted: Long, imageIds: Set[String])

/** One finished crawl, its lake still on disk. */
final case class CrawlRun(
    crawler: Crawler, bloom: Option[PartitionedBloom], lake: Path,
    wallS: Double, waves: Int) {
  def waveSeconds: Seq[Double] =
    (1 to waves).map(w => crawler.runLog.stats(w).getOrElse("wall_ms", 0L) / 1000.0)
  def admitted: Long = (1 to waves).map(w => crawler.runLog.stats(w).getOrElse("admitted", 0L)).sum
}

/** The `crawl_wide` workload: `Bench.benchConfig`'s page shape on 60
  * hosts (4 with `toy`), every host seeded, two waves per crawl. Four
  * seen buckets sized for 1,024 items make the seen set outgrow the
  * Bloom filter, so its grow-and-rebuild path runs once per crawl. */
final class CrawlWorkload(
    spark: SparkSession, seed: Long, toy: Boolean, scratch: Path, plantWrong: Boolean) {

  private val hosts = if (toy) 4 else 60
  private val fetchPartitions = Runtime.threads * 4
  private val base = CrawlConfig(
    web = SynthWeb.WebConfig(nHosts = hosts, pagesPerHost = 400, imagesPerHost = 200,
      linksPerPage = 14, imagesPerPage = 2, hotFrac = 0.05,
      imgMinDim = 64, imgMaxDim = 128, seed = seed),
    seeds = SynthWeb.seeds(hosts), lakeRoot = "",
    fetchPartitions = fetchPartitions, saltSlots = math.min(8, fetchPartitions),
    seenBuckets = 4, bloomExpectedItems = 1024, maxWaves = 2)

  def config(lake: String): CrawlConfig = base.copy(lakeRoot = lake)

  /** RefSim's expectation, computed once per process outside every
    * timing. A planted wrong expectation (smoke test only) adds one
    * admission that no crawl makes. */
  lazy val sim: RefSim.SimResult = RefSim.run(base.seeds, base.web, maxWaves = base.maxWaves)
  lazy val expected: Expected = Expected(
    sim.seen.map(f => (f.kind, f.url, f.depth)), sim.hostVisits,
    sim.admissions.size.toLong + (if (plantWrong) 1 else 0), sim.imageIds.toSet)

  /** `Crawler.run()` from seeds until the last wave is committed and the
    * async tail is joined. */
  def crawl(): CrawlRun = {
    val lake = Files.createTempDirectory(scratch, "lake")
    val crawler = new Crawler(spark, config(lake.toString))
    val (summary, secs) = Runtime.time(crawler.run())
    CrawlRun(crawler, None, lake, secs, summary.waves)
  }

  /** The same loop as `Crawler.run()` on a fresh lake, built from its
    * public steps so that each `runWave` gets a span. */
  def tracedCrawl(spans: Spans, root: Int): CrawlRun = {
    val lake = Files.createTempDirectory(scratch, "lake")
    val cfg = config(lake.toString)
    val crawler = new Crawler(spark, cfg)
    val bloom = new PartitionedBloom(cfg.seenBuckets, cfg.bloomExpectedItems, cfg.bloomFpp)
    val (waves, secs) = Runtime.time {
      spans("init", root)(_ => crawler.initRun())
      var wave = 0
      var frontier = crawler.frontierT.snapshot(0).get.totalRows
      while (frontier > 0 && wave < cfg.maxWaves) {
        frontier = spans(s"wave-$wave", root)(_ => crawler.runWave(wave, bloom))
        wave += 1
      }
      spans("quiesce", root)(_ => crawler.awaitQuiesce())
      wave
    }
    CrawlRun(crawler, Some(bloom), lake, secs, waves)
  }

  /** Output check against RefSim: seen set, host visits, admitted count
    * and image-id set must all match. */
  def check(run: CrawlRun): Option[String] = {
    val c = run.crawler
    val seen = c.seenT.readAll().select("kind", "url", "depth").collect()
      .map(r => (r.getString(0), r.getString(1), r.getInt(2))).toSet
    val visits = c.budgetT.readWave(run.waves).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val images = c.imagesT.readAll().select("image_id").collect().map(_.getString(0)).toSet
    val e = expected
    if (seen != e.seen) Some(s"seen set differs: ${seen.size} rows vs ${e.seen.size} expected")
    else if (visits != e.hostVisits) Some("host visits differ")
    else if (run.admitted != e.admitted) Some(s"admitted ${run.admitted} vs ${e.admitted} expected")
    else if (images != e.imageIds) Some(s"image ids differ: ${images.size} vs ${e.imageIds.size} expected")
    else None
  }

  /** Forget the crawl's catalog entry and delete its lake. */
  def drop(run: CrawlRun): Unit = {
    spark.sql(s"DROP TABLE IF EXISTS ${run.crawler.seenT.tableName}")
    Runtime.deleteRecursively(run.lake)
  }

  // ------------------------------------------------------ per-layer only

  /** Single-threaded kernel costs (microseconds per call) on the URLs
    * RefSim admits, plus the number of distinct candidates per wave,
    * which the novelty ratio needs. */
  def coreMetrics(): (Map[String, Double], Long) = {
    val pages = sim.admissions.filter(_._2.kind == Finding.Page)
    val images = sim.admissions.filter(_._2.kind == Finding.Image).map(_._2.url).take(1000)
    val cfg = base.web
    def pass(): (Map[String, Double], Long) = {
      var fetchP, parse, canon, fetchI, decode = 0L
      val cands = pages.groupBy(_._1).values.map { wavePages =>
        val found = scala.collection.mutable.HashSet.empty[Finding]
        wavePages.foreach { case (_, f) =>
          val t0 = System.nanoTime()
          val body = SynthWeb.fetchFollowing(f.url, cfg)
          val t1 = System.nanoTime()
          body match {
            case SynthWeb.PageBody(html) => found ++= PageKernel.processPage(f.url, html, f.depth)
            case _ =>
          }
          val t2 = System.nanoTime()
          Canon.canonicalize(f.url)
          val t3 = System.nanoTime()
          fetchP += t1 - t0; parse += t2 - t1; canon += t3 - t2
        }
        found.size.toLong
      }.sum
      images.foreach { url =>
        val t0 = System.nanoTime()
        val body = SynthWeb.fetchFollowing(url, cfg)
        val t1 = System.nanoTime()
        body match {
          case SynthWeb.ImageBody(bytes, _, _, _) => Imaging.aHash(Imaging.decode(bytes))
          case _ =>
        }
        fetchI += t1 - t0; decode += System.nanoTime() - t1
      }
      def us(ns: Long, n: Int) = if (n == 0) 0.0 else ns / 1000.0 / n
      (Map(
        "core.fetch_page_us" -> us(fetchP, pages.size), "core.parse_page_us" -> us(parse, pages.size),
        "core.canon_us" -> us(canon, pages.size), "core.fetch_image_us" -> us(fetchI, images.size),
        "core.decode_hash_image_us" -> us(decode, images.size)), cands)
    }
    pass() // JIT warm-up
    pass()
  }

  /** False-positive rate of the crawl's own filter, probed with URLs on
    * a host the synthetic web never links to. The filter must also pass
    * every URL the crawl saw: a false negative fails the check. */
  def bloomProbe(run: CrawlRun, bloom: PartitionedBloom, n: Int = 200000): (Double, Option[String]) = {
    def passing(df: org.apache.spark.sql.DataFrame): Long =
      df.withColumn("url_hash", xxhash64(col("kind"), col("url"), col("depth")))
        .withColumn("bucket", bloom.bucketCol(col("kind"), col("url"), col("depth")))
        .filter(bloom.probeCol(spark, col("bucket"), col("url_hash"))).count()
    if (bloom.isEmpty) (0.0, None)
    else {
      val seen = run.crawler.seenT.readAll().select("kind", "url", "depth")
      val seenRows = seen.count()
      val missed = seenRows - passing(seen)
      val unseen = spark.range(n).select(lit(Finding.Page).as("kind"),
        concat(lit("http://unseen.invalid/p"), col("id").cast("string")).as("url"), lit(0).as("depth"))
      (passing(unseen).toDouble / n,
        if (missed == 0) None else Some(s"bloom filter misses $missed of $seenRows seen URLs"))
    }
  }

  /** Bytes of the filters the driver holds and broadcasts each wave. */
  def bloomFilterBytes(bloom: PartitionedBloom): Double =
    if (bloom.isEmpty) 0.0
    else bloom.buckets * (BloomFilter.create(bloom.capacity / bloom.buckets, base.bloomFpp).bitSize() / 8.0)

  /** Median time of a direct `LakeTable.commit` of a 1-row frame. */
  def commitFixedMs(): Double = {
    val lake = Files.createTempDirectory(scratch, "fixed")
    val table = new LakeTable(spark, lake.toString, "fixed")
    val one = spark.range(1).toDF("id")
    val ms = (0 until 7).map(i => Runtime.time(table.commit(i, one))._2 * 1000).drop(2)
    Runtime.deleteRecursively(lake)
    Runtime.median(ms)
  }
}

/** Attributes a crawl's SQL executions to layers by their call site.
  * The crawler names its wave sections with `timed(wave, "<section>")`;
  * a job belongs to the section whose `timed` call encloses the
  * innermost `Crawler.scala` frame of its call site. */
object CrawlLayers {
  private val layerOf = Map(
    "admit+count" -> "crawl.admit", "fetch" -> "crawl.fetch", "novel" -> "crawl.novelty",
    "images_commit" -> "crawl.images", "bloom_merge" -> "bloom.merge",
    "bloom_rebuild" -> "bloom.rebuild", "seen_commit" -> "lake.commit.seen",
    "frontier_commit" -> "lake.commit.frontier", "budget_commit" -> "lake.commit.budget",
    "metrics_commit" -> "lake.commit.metrics")

  private val Timed = """timed\(wave, "([^"]+)"\)""".r
  private val Frame = """Crawler\.scala:(\d+)""".r

  /** (line, section) of every `timed` call in the crawler's source. */
  private lazy val sections: Vector[(Int, String)] = {
    val src = Paths.get("src/main/scala/graft/crawl/Crawler.scala")
    if (!Files.exists(src)) Vector.empty
    else Files.readAllLines(src).toArray(Array.empty[String]).toVector.zipWithIndex.flatMap {
      case (line, i) => Timed.findFirstMatchIn(line).map(m => (i + 1, m.group(1)))
    }
  }

  def classify(callSite: String): String =
    Frame.findFirstMatchIn(callSite).map(_.group(1).toInt) match {
      case None => "other"
      case Some(line) =>
        sections.filter(_._1 <= line).lastOption
          .filter { case (at, _) => line - at <= 12 }
          .flatMap { case (_, name) => layerOf.get(name) }
          .getOrElse("crawl.other")
    }
}
