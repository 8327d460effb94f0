package perfbench

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._

import graft.analytics.History
import graft.enrich.Palette
import graft.ingest.{PostIngest, StatsIngest}

/** One benchmark workload: what a run does, what the client reads after
  * it, and how the outputs are checked. Paths: inputs under `inputs`
  * (written by `gen.py`, or by `prepareInputs` for the image store),
  * outputs under `out`. */
abstract class Workload(val inputs: String, val out: String, val seed: Long) {
  /** Span name for each read, when traced. */
  def readSpan: String = "client.read"
  def prepareInputs(): Unit = ()
  def run(spark: SparkSession, t: Tracing): Unit
  def reads(spark: SparkSession, n: Int, runIndex: Int): Seq[Harness.Read]
  /** Failed checks, one message each; empty when every output is right. */
  def check(spark: SparkSession, reads: Seq[(String, Array[Row])]): Seq[String]
  /** Add micro-batch child spans once a traced run has drained. */
  def batchSpans(tracer: Tracer): Unit = ()

  /** Point lookups by `key` on a written table, `n` keys drawn by seed. */
  protected def lookups(spark: SparkSession, table: String, key: String, keys: IndexedSeq[String],
                        n: Int, runIndex: Int): Seq[Harness.Read] = {
    val rng = new scala.util.Random(seed * 1000003L + runIndex)
    val written = spark.read.parquet(table) // the client opens the table once per run
    Seq.fill(n)(keys(rng.nextInt(keys.size))).map { k =>
      Harness.Read(k, () => written.filter(col(key) === k).collect())
    }
  }

  /** Every lookup must return exactly the table's rows for its key. */
  protected def checkLookups(spark: SparkSession, table: String, key: String,
                             reads: Seq[(String, Array[Row])]): Seq[String] = {
    val df = spark.read.parquet(table)
    val byKey = df.collect().groupBy(r => String.valueOf(r.get(r.fieldIndex(key))))
    reads.collect { case (k, got) if got.toSet != byKey.getOrElse(k, Array.empty[Row]).toSet =>
      s"lookup $key=$k returned ${got.length} rows, expected ${byKey.get(k).map(_.length).getOrElse(0)}"
    }.distinct
  }
}

object Workloads {
  def apply(name: String, inputs: String, out: String, seed: Long): Workload = name match {
    case "daily_history" => new DailyHistory(inputs, out, seed)
    case "weekly_palette" => new WeeklyPalette(inputs, out, seed)
    case "post_store" => new PostStore(inputs, out, seed)
    case other => throw new IllegalArgumentException(s"unknown workload $other")
  }

  /** The lake's "now", as `gen.NOW`. */
  val Now = "2024-03-31 00:00:00"
}

/** The daily `history` fact build: post snapshot, trailing-window
  * engagement rollup, staged stats, and the fact with its colours, written
  * as parquet. */
final class DailyHistory(inputs: String, out: String, seed: Long) extends Workload(inputs, out, seed) {
  private val table = s"$out/history"

  def run(spark: SparkSession, t: Tracing): Unit = {
    val posts = t.lazySpan("ingest.posts_snapshot")(
      PostIngest.snapshot(spark, s"$inputs/lake/posts/*/*.json"))
    val aggs = t.lazySpan("analytics.rollup")(
      History.engagementRollup(posts, lit(Workloads.Now).cast("timestamp")))
    val staged = t.lazySpan("ingest.stats_stage")(
      StatsIngest.stage(StatsIngest.readStats(spark, s"$inputs/lake/stats/*/*.json")))
    t.span("analytics.history_build") {
      val colors = spark.read.parquet(s"$inputs/staging_color")
      History.renderForWarehouse(History.build(staged, aggs, colors))
        .write.mode("overwrite").parquet(table)
    }
    t.unpersistAll(spark)
  }

  private var ids: IndexedSeq[String] = IndexedSeq.empty

  def reads(spark: SparkSession, n: Int, runIndex: Int): Seq[Harness.Read] = {
    if (ids.isEmpty) ids = spark.read.parquet(table).select("id").collect().map(_.getString(0)).sorted.toIndexedSeq
    lookups(spark, table, "id", ids, n, runIndex)
  }

  /** The fact itself is checked against the DuckDB oracle by `run.py`. */
  def check(spark: SparkSession, reads: Seq[(String, Array[Row])]): Seq[String] =
    checkLookups(spark, table, "id", reads)
}

/** The weekly palette job: every user's images to a KMeans palette,
  * written as the `staging_color` table. */
final class WeeklyPalette(inputs: String, out: String, seed: Long) extends Workload(inputs, out, seed) {
  private val images = s"$inputs/images"
  private val table = s"$out/staging_color"
  val Users = 40
  val Images = 400

  override def prepareInputs(): Unit = {
    val done = new java.io.File(s"$images/.done")
    if (!done.exists()) {
      ImageGen.generate(images, seed, Users, Images)
      done.createNewFile()
    }
  }

  def run(spark: SparkSession, t: Tracing): Unit = t.span("enrich.palette") {
    Palette.paletteFromImages(spark, s"$images/*").write.mode("overwrite").parquet(table)
  }

  def reads(spark: SparkSession, n: Int, runIndex: Int): Seq[Harness.Read] =
    lookups(spark, table, "igId", ImageGen.userIds(Users).toIndexedSeq, n, runIndex)

  /** Writes the driver-local palettes for `run.py` to compare with the
    * table. */
  def check(spark: SparkSession, reads: Seq[(String, Array[Row])]): Seq[String] = {
    Json.write(s"$out/palette_expected.json", PaletteCheck.expected(images, Palette.pixelBudget(spark)))
    checkLookups(spark, table, "igId", reads)
  }
}

/** The per-PUT post store: the post lake replayed through the streaming
  * ingest in small micro-batches (files arrive in mtime order), then a
  * seeded mix of keyword, hashtag and mention searches over the converged
  * snapshot. A run is the replay; the searches are the reads. */
final class PostStore(inputs: String, out: String, seed: Long) extends Workload(inputs, out, seed) {
  // 72 original posts in three micro-batches, then the 19 late arrivals
  val FilesPerTrigger = 24
  private val lake = s"$inputs/store/posts/*/*.json"
  private var snapshot: DataFrame = _

  override def readSpan: String = "analytics.search"

  def run(spark: SparkSession, t: Tracing): Unit =
    snapshot = t.span("streaming.post_replay")(PostIngest.streamSnapshot(spark, lake, FilesPerTrigger))

  private val Words = Seq("spark", "query", "window", "stream", "coffee", "fast")
  private val Tags = Seq("travel", "food", "fitness", "style", "tech", "music", "art", "nature")

  def reads(spark: SparkSession, n: Int, runIndex: Int): Seq[Harness.Read] = {
    val rng = new scala.util.Random(seed * 1000003L + runIndex)
    val snap = snapshot
    Seq.fill(n) {
      rng.nextInt(3) match {
        case 0 => val k = Words(rng.nextInt(Words.size))
          Harness.Read(s"keyword:$k", () => History.searchPosts(snap, keyword = Some(k)).collect())
        case 1 => val h = Tags(rng.nextInt(Tags.size))
          Harness.Read(s"hashtag:$h", () => History.searchPosts(snap, hashtag = Some(h)).collect())
        case _ => val m = f"user${rng.nextInt(40)}%04d"
          Harness.Read(s"mention:$m", () => History.searchPosts(snap, mention = Some(m)).collect())
      }
    }
  }

  /** The converged snapshot must equal the batch snapshot of the same
    * lake; it is written out, with every read's result ids, for the
    * DuckDB search oracle in `run.py`. */
  def check(spark: SparkSession, reads: Seq[(String, Array[Row])]): Seq[String] = {
    val batch = PostIngest.snapshot(spark, lake)
    val cols = batch.columns.toSeq
    val stream = snapshot.select(cols.map(col): _*)
    val extra = stream.exceptAll(batch).count()
    val missing = batch.exceptAll(stream).count()
    snapshot.write.mode("overwrite").parquet(s"$out/snapshot")
    Json.write(s"$out/searches.json", reads.map { case (label, rows) =>
      Map("query" -> label, "ids" -> rows.map(r => r.getString(r.fieldIndex("id"))).sorted.toSeq)
    }.distinct)
    if (extra == 0 && missing == 0) Seq.empty
    else Seq(s"stream snapshot differs from batch snapshot: $extra extra, $missing missing rows")
  }

  private val seen = collection.mutable.Set.empty[Int]
  override def batchSpans(tracer: Tracer): Unit =
    tracer.spans.toSeq.filter(s => s.name == "streaming.post_replay" && seen.add(s.id))
      .foreach(tracer.addBatchSpans(_, "streaming.batch"))
}
