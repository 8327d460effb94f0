package graft.ingest

import java.awt.image.BufferedImage
import java.io.File
import java.nio.file.Files
import javax.imageio.ImageIO
import org.apache.spark.metrics.source.HiveCatalogMetrics
import org.apache.spark.sql.DataFrame
import org.scalatest.funsuite.AnyFunSuite
import graft.{GraftSession, SparkTestSession}
import graft.enrich.Palette

/** Local sessions list lake files on the driver: a glob over a small-file
  * lake expands past Spark's 32-root-path threshold, and every reader of
  * the ingest, enrich and streaming layers must then list without a
  * distributed listing job. Each case runs twice on the shared session:
  * under Spark's default threshold (the control, which must launch a
  * listing job) and under `GraftSession.driverListing` (which must not),
  * with the same result both times. */
class DriverListingSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  private val (thresholdKey, driverThreshold) = GraftSession.driverListing
  private val Users = 6
  private val PerUser = 6 // 36 post files, 36 stats files
  private val ImageUsers = 34

  private def write(f: File, text: String): Unit = {
    f.getParentFile.mkdirs()
    Files.write(f.toPath, text.getBytes("UTF-8"))
    ()
  }

  private lazy val lake: String = {
    val dir = Files.createTempDirectory("graft_listing").toFile
    graft.streaming.Replay.cleanupAtExit(dir.toString)
    for (u <- 1 to Users; i <- 1 to PerUser) {
      val id = u * 100 + i
      write(new File(dir, s"posts/$u/p$id.json"),
        s"""{"id": $id, "media_type": "IMAGE", "caption": "post $id #tag$i",
           |"hashtags": "tag$i", "like_count": ${id % 17},
           |"media_url": "https://cdn.example.com/$u/$id.jpg?tok=1",
           |"timestamp": "2024-01-${10 + i}T08:00:00+0000",
           |"owner": {"id": "$u", "username": "user$u"}}""".stripMargin.replace("\n", " "))
      write(new File(dir, s"stats/$u/2024-01-${10 + i}.json"),
        s"""{"created_at": "2024-01-${10 + i}", "id": "$u", "followers_count": ${u * 10 + i},
           |"follows_count": $i, "media_count": $PerUser, "username": " "}""".stripMargin.replace("\n", " "))
    }
    for (u <- 1 to ImageUsers) {
      val img = new BufferedImage(8, 8, BufferedImage.TYPE_INT_RGB)
      val g = img.createGraphics()
      g.setColor(new java.awt.Color(u * 0x070503 & 0xFFFFFF))
      g.fillRect(0, 0, 8, 8)
      g.dispose()
      val f = new File(dir, s"images/user$u/a.png")
      f.getParentFile.mkdirs()
      ImageIO.write(img, "png", f)
    }
    dir.toString
  }

  /** Listing jobs launched while `read` builds and collects its frame
    * with the threshold at `value` (None: Spark's default), and the rows
    * it returned. The session's own setting is restored afterwards. */
  private def listed(value: Option[String])(read: => DataFrame): (Long, Seq[String]) = {
    val old = spark.conf.getOption(thresholdKey)
    value.fold(spark.conf.unset(thresholdKey))(spark.conf.set(thresholdKey, _))
    try {
      val before = HiveCatalogMetrics.METRIC_PARALLEL_LISTING_JOB_COUNT.getCount
      val rows = read.collect().map(_.toString).sorted.toSeq
      (HiveCatalogMetrics.METRIC_PARALLEL_LISTING_JOB_COUNT.getCount - before, rows)
    } finally old.fold(spark.conf.unset(thresholdKey))(spark.conf.set(thresholdKey, _))
  }

  private def listsOnDriver(name: String)(read: => DataFrame): Unit =
    test(s"$name lists a small-file lake on the driver") {
      val (defaultJobs, expected) = listed(None)(read)
      assert(defaultJobs > 0, "control: Spark's default threshold should launch a listing job")
      assert(expected.nonEmpty)
      val (jobs, got) = listed(Some(driverThreshold))(read)
      assert(jobs == 0, s"$jobs listing job(s) under the local-session setting")
      assert(got == expected)
    }

  listsOnDriver("PostIngest.snapshot")(PostIngest.snapshot(spark, s"$lake/posts/*/*.json"))
  listsOnDriver("StatsIngest.stage(readStats)")(
    StatsIngest.stage(StatsIngest.readStats(spark, s"$lake/stats/*/*.json")))
  listsOnDriver("Palette.paletteFromImages")(Palette.paletteFromImages(spark, s"$lake/images/*"))
  listsOnDriver("PostIngest.streamSnapshot")(
    PostIngest.streamSnapshot(spark, s"$lake/posts/*/*.json", maxFilesPerTrigger = 12))
}
