package graftbench

import java.io.File
import java.nio.charset.StandardCharsets
import java.nio.file.Files
import org.apache.commons.io.FileUtils
import org.apache.spark.sql.{Dataset, SparkSession}
import org.apache.spark.sql.functions._
import graft.cep._
import graft.cep.spark.{Rip, SparkPatterns}
import graft.io.{MatchSink, Transcripts}
import scala.collection.mutable
import scala.util.control.NonFatal

/** A run's seeded transcript corpus, generated once as parquet and re-read by every pass.
  * The marker pins generator version, size and seed; reading refuses any other corpus. */
final class Corpus(dir: String, convs: Int, seed: Long, hotShare: Double, files: Int) {
  private val marker = s"${Transcripts.GenVersion} convs=$convs hotShare=$hotShare seed=$seed"
  private val markerFile = new File(dir, "_GRAFTBENCH_MARKER")

  /** Writes the corpus; returns its turn count per event type. */
  def write(spark: SparkSession): Map[String, Long] = {
    Transcripts.generateDs(spark, convs, seed, hotShare).coalesce(files).write.parquet(dir)
    Files.write(markerFile.toPath, marker.getBytes(StandardCharsets.UTF_8))
    events(spark).groupBy("etype").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
  }

  /** Bytes of the corpus' parquet files: what every pass scans (it reads all columns). */
  def bytes: Long =
    new File(dir).listFiles().filter(_.getName.endsWith(".parquet")).map(_.length).sum

  def turns(spark: SparkSession): Dataset[Transcripts.Turn] = {
    val found = new String(Files.readAllBytes(markerFile.toPath), StandardCharsets.UTF_8)
    require(found == marker, s"corpus marker '$found' is not this run's '$marker'")
    import spark.implicits._
    spark.read.parquet(dir).as[Transcripts.Turn]
  }

  def events(spark: SparkSession): Dataset[Ev] = Transcripts.toEv(turns(spark))
}

/** The second computation path: one thread drives [[MatchEngine]] over each key's events
  * in (ts, idx) order, with no Spark exchange or sort. Also the single-threaded baseline. */
object Reference {
  private val order: java.util.Comparator[Ev] = (a: Ev, b: Ev) => {
    val k = a.key.compareTo(b.key)
    if (k != 0) k
    else if (a.ts != b.ts) java.lang.Long.compare(a.ts, b.ts)
    else java.lang.Long.compare(a.idx, b.idx)
  }

  /** Matches, engine seconds and events fed; only the engine loop is timed. */
  def singleThread(events: Dataset[Ev], patterns: Seq[Pattern]): Map[String, Any] = {
    val compiled = patterns.flatMap(Compiler.compile).toIndexedSeq
    val types = compiled.flatMap(_.relevantTypes).distinct
    val evs = events.filter(col("etype").isin(types: _*)).collect()
    java.util.Arrays.sort(evs, order)
    val t0 = System.nanoTime()
    var n = 0L
    var key: String = null
    var engine: MatchEngine = null
    val count: CepMatch => Unit = _ => n += 1
    evs.foreach { e =>
      if (e.key != key) {
        if (engine != null) n += engine.finish().size
        key = e.key
        engine = new MatchEngine(compiled)
      }
      engine.feedEach(e)(count)
    }
    if (engine != null) n += engine.finish().size
    Map("single_thread_matches" -> n, "single_thread_s" -> (System.nanoTime() - t0) / 1e9,
      "single_thread_events" -> evs.length.toLong)
  }
}

/**
 * Timed batch passes for `seconds`, each on a fresh Dataset over the parquet corpus with
 * Spark's cache cleared, so no pass is served by an earlier one. A pass's timed part ends
 * when its matches are written or counted; its gate observations are taken afterwards.
 * In the traced run every other pass is traced (spans plus [[StageRecorder]]); the
 * untraced ones in between give the tracing overhead.
 */
abstract class BatchWorkload(ctx: Ctx, convs: Int, hotShare: Double) extends Workload {
  /** Four tasks per core: a core the host takes away for a while delays a stage by a
    * quarter of one core's share instead of holding it up on a single straggler. */
  val partitions: Int = 4 * ctx.cores
  protected val corpus = new Corpus(s"${ctx.work}/corpus", convs, ctx.seed, hotShare, partitions)

  /** The timed part of pass `i`; returns the untimed gate observation. */
  protected def pass(spark: SparkSession, i: Int): () => Map[String, Any]

  /** Extra traced-only work after a traced pass (not part of its wall time). */
  protected def tracedExtra(spark: SparkSession, i: Int): Map[String, Any] = Map.empty

  /** Once per run, outside the timed region: what the passes are gated against. */
  protected def reference(spark: SparkSession): Map[String, Any]

  def generate(spark: SparkSession): Map[String, Any] = {
    val perType = corpus.write(spark)
    val types = patterns.flatMap(Compiler.compile).flatMap(_.relevantTypes).toSet
    Map("turns" -> perType.values.sum, "relevant_events" -> perType.filter(t => types(t._1)).values.sum,
      "input_bytes" -> corpus.bytes, "convs" -> convs,
      "hot_share" -> hotShare)
  }

  def warm(spark: SparkSession, setup: Int): Unit = pass(spark, -setup)()

  def measure(spark: SparkSession): Map[String, Any] = {
    val sc = spark.sparkContext
    val tracer = ctx.tracer
    val rec = new StageRecorder
    val passes = mutable.ArrayBuffer.empty[Map[String, Any]]
    val deadline = Clock.ms() + ctx.seconds * 1000
    var i = 0
    while (i == 0 || Clock.ms() < deadline) {
      val traced = tracer.enabled && i % 2 == 1
      if (traced) sc.addSparkListener(rec)
      tracer.active = traced
      spark.catalog.clearCache()
      val spanId = tracer.nextId
      val obs =
        try {
          val t0 = Clock.ms()
          val gate = tracer.span(sc, "pass")(pass(spark, i))
          val wall = (Clock.ms() - t0) / 1000
          val extra = if (traced) tracer.span(sc, "traced_extra")(tracedExtra(spark, i)) else Map.empty
          Map("wall_s" -> wall) ++ gate() ++ extra
        } catch {
          case NonFatal(e) => Map("error" -> e.toString)
        }
      if (traced) { rec.quiesce(); sc.removeSparkListener(rec) }
      tracer.active = false
      passes += obs ++ Map("index" -> i, "traced" -> traced, "span" -> (if (traced) spanId else null))
      Main.log(s"pass $i: ${obs.getOrElse("wall_s", obs.getOrElse("error", ""))}")
      i += 1
    }
    Map("passes" -> passes.toSeq, "stages" -> rec.records) ++ reference(spark)
  }
}

/** Backfill: a 30%-hot corpus (one conversation holds about 30% of the turns), text kept
  * in the payload, the 7-pattern heavy set through Rip.evaluateAuto, every match written
  * through MatchSink to a fresh table. */
final class Backfill(ctx: Ctx) extends BatchWorkload(ctx, convs = 3500, hotShare = 0.3) {
  val patterns: Seq[Pattern] = SparkPatterns.heavy
  private val PaneMicros = 60L * 60 * 1000000
  /** The API default (2M events) assumes production-sized keys; the hot conversation of
    * this host-sized corpus holds ~47k turns and a cold one at most 60, so the threshold
    * is scaled with the corpus. Hot-key detection stays sampled (fraction 100 / threshold). */
  private val HotThreshold = 20000L

  private def matches(spark: SparkSession, sc: org.apache.spark.SparkContext) =
    ctx.tracer.span(sc, "evaluate_call")(
      Rip.evaluateAuto(corpus.events(spark), patterns, PaneMicros, HotThreshold))

  protected def pass(spark: SparkSession, i: Int): () => Map[String, Any] = {
    val sc = spark.sparkContext
    val table = s"${ctx.work}/sink-$i"
    val ms = matches(spark, sc)
    val m = ctx.tracer.span(sc, "output")(
      MatchSink.write(ms.toDF().withColumn("ts", col("lastTs")), table, s"pass$i"))
    () => {
      val read = MatchSink.read(spark, table).count()
      FileUtils.deleteDirectory(new File(table))
      Map("manifest_rows" -> m.rows, "read_rows" -> read, "sink_files" -> m.files.size,
        "sink_bytes" -> m.files.map(_.bytes).sum)
    }
  }

  /** The same plan counted instead of written: the sink's share is write minus count. */
  override protected def tracedExtra(spark: SparkSession, i: Int): Map[String, Any] = {
    val sc = spark.sparkContext
    val t0 = Clock.ms()
    ctx.tracer.span(sc, "count_only")(matches(spark, sc).count())
    Map("count_only_s" -> (Clock.ms() - t0) / 1000)
  }

  protected def reference(spark: SparkSession): Map[String, Any] = {
    val st = Reference.singleThread(corpus.events(spark), patterns)
    st + ("reference" -> st("single_thread_matches"))
  }
}
