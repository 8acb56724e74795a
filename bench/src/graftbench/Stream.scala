package graftbench

import java.io.File
import java.nio.file.{Files, StandardCopyOption}
import java.time.Instant
import org.apache.commons.io.FileUtils
import org.apache.spark.sql.{Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import graft.cep._
import graft.cep.spark.{BatchEvaluator, SparkPatterns, StreamEvaluator}
import graft.io.Transcripts
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

/**
 * Steady stream: a 30%-hot corpus, sliced by event time into parquet files that are
 * written to staging first and then renamed into the source directory by a generator
 * thread on an OPEN-LOOP schedule: one file every [[IntervalMs]] at [[Rate]] turns/s.
 * The first [[LeadInFiles]] let the new query reach its steady batch cadence; then, for
 * the first 85% of `seconds`, cycles of [[CycleFiles]] paced files followed by
 * [[BurstFiles]] files released at once, which the query has to drain. Detect latency is
 * taken over the steady files, drain throughput over the bursts. The query is
 * StreamEvaluator.evaluate(base, assumeOrdered = true) into a `noop` sink with an observed
 * match count. Two sentinel files far in event time then flush parked matches so the
 * stream's count can be gated against the batch count on the same events.
 */
final class StreamSteady(ctx: Ctx) extends Workload {
  val patterns: Seq[Pattern] = SparkPatterns.base
  /** One state-store partition per core: per-batch commit cost grows with partitions. */
  val partitions: Int = ctx.cores
  private val Rate = 10000.0
  /** One paced file per slot: about 1,000 turns, so a ~0.4 s batch reads several files. */
  private val IntervalMs = 104.0
  /** About 4 s of paced files that are not sampled: a new query's first few dozen
    * micro-batches run slower while their per-batch code is still being compiled. */
  private val LeadInFiles = 36
  /** Paced files between two bursts. */
  private val CycleFiles = 20
  /** About 20k turns, so row work outweighs the burst batch's fixed cost; and under the
    * 32 files at which Spark's file source lists a batch's files in a parallel job, so a
    * burst batch costs what a paced one does plus its rows. */
  private val BurstFiles = 20
  /** Bursts that fit the paced part of the run, its first 85%: the rest leaves room for
    * the last drain and the flush. The drain is their median. */
  private val Bursts =
    math.max(3, ((0.85 * ctx.seconds * 1000 / IntervalMs - LeadInFiles) / (CycleFiles + 1)).toInt)
  /** The warm-up pass runs this many one-file micro-batches: per-batch code (planning,
    * state store load and commit) needs several batches to be compiled. */
  private val WarmBatches = 12
  /** (phase, burst group or -1, release slot) per file, in release order. */
  private val schedule: IndexedSeq[(String, Int, Int)] = {
    val lead = (0 until LeadInFiles).map(i => ("lead_in", -1, i))
    val cycles = (0 until Bursts).flatMap { g =>
      val first = LeadInFiles + g * (CycleFiles + 1)
      (0 until CycleFiles).map(i => ("steady", -1, first + i)) ++
        Seq.fill(BurstFiles)(("burst", g, first + CycleFiles))
    }
    lead ++ cycles
  }
  /** A 30%-hot corpus averages 31.5 / 0.7 = 45 turns per conversation. */
  private val convs = math.max(2, (Rate * IntervalMs / 1000 * schedule.length / 45).toInt)
  private val Sentinel = "zz-sentinel"
  private val staging = s"${ctx.work}/stream-staging"
  private var staged = IndexedSeq.empty[(File, Long)] // (parquet file, turns), in time order
  private var sentinels = IndexedSeq.empty[File]
  private var evSchema: org.apache.spark.sql.types.StructType = _

  def generate(spark: SparkSession): Map[String, Any] = {
    import spark.implicits._
    val evs = Transcripts.toEv(
        Transcripts.generateDs(spark, convs, ctx.seed, hotShare = 0.3).coalesce(ctx.cores))
      .withColumn("s1", lit(null).cast("string"))
      .withColumn("s2", lit(null).cast("string"))
      .as[Ev]
      .cache()
    evSchema = evs.schema
    val types = patterns.flatMap(Compiler.compile).flatMap(_.relevantTypes).toSet
    val tsType = evs.select("ts", "etype").as[(Long, String)].collect()
    val ts = tsType.map(_._1).sorted
    val relevant = tsType.count(t => types(t._2))
    val nFiles = schedule.length
    // upper event-time bound of each file at equal turn counts; equal timestamps never
    // straddle two files, so every key's events arrive in event-time order
    val bounds = (1 to nFiles).map(i => ts(math.max(0, i * ts.length / nFiles - 1))).distinct.toArray
    require(bounds.length == nFiles, s"corpus too small to slice into $nFiles files")
    val fileOf = udf((t: Long) => StreamSteady.lowerBound(bounds, t))
    // task-side commit (algorithm 2) spares the job commit one rename per staged file
    evs.withColumn("file", fileOf(col("ts"))).repartition(col("file"))
      .write.option("mapreduce.fileoutputcommitter.algorithm.version", "2")
      .partitionBy("file").parquet(staging)
    val counts = ts.groupBy(t => StreamSteady.lowerBound(bounds, t)).view.mapValues(_.length.toLong)
    staged = (0 until nFiles).map(i => (partFile(s"$staging/file=$i"), counts.getOrElse(i, 0L)))
    val maxTs = ts.last
    sentinels = Seq(7200L, 7300L).zipWithIndex.map { case (s, i) =>
      val dir = s"$staging/sentinel-$i"
      Seq(Ev(Sentinel, i, "USER", maxTs + s * 1000000L, 0, null, null)).toDS()
        .coalesce(1).write.parquet(dir)
      partFile(dir)
    }.toIndexedSeq
    evs.unpersist()
    Map("turns" -> ts.length.toLong, "relevant_events" -> relevant,
      "input_bytes" -> staged.map(_._1.length).sum, "convs" -> convs,
      "hot_share" -> 0.3,
      "rate_turns_per_s" -> Rate, "interval_ms" -> IntervalMs)
  }

  private def partFile(dir: String): File =
    new File(dir).listFiles().filter(_.getName.endsWith(".parquet")).head

  private def start(spark: SparkSession, src: String, ckpt: String,
                    filesPerBatch: Option[Int] = None): StreamingQuery = {
    import spark.implicits._
    val in = filesPerBatch.foldLeft(spark.readStream.schema(evSchema))(
      (r, n) => r.option("maxFilesPerTrigger", n.toString)).parquet(src).as[Ev]
    StreamEvaluator.evaluate(in, patterns, assumeOrdered = true)
      .filter(col("key") =!= Sentinel)
      .observe("cep", count(lit(1)).as("matches"))
      .writeStream.format("noop")
      .option("checkpointLocation", ckpt)
      .trigger(Trigger.ProcessingTime(0))
      .start()
  }

  /** Moves a staged file into the source directory, stamped with the release time. */
  private def release(f: File, src: String, name: String): Double = {
    val now = Clock.ms()
    f.setLastModified(now.toLong)
    Files.move(f.toPath, new File(src, name).toPath, StandardCopyOption.ATOMIC_MOVE)
    now
  }

  def warm(spark: SparkSession, setup: Int): Unit = {
    val dir = s"${ctx.work}/warm-$setup"
    val src = new File(s"$dir/src")
    src.mkdirs()
    staged.take(WarmBatches).zipWithIndex.foreach { case ((f, _), i) =>
      Files.copy(f.toPath, new File(src, f"w$i%05d.parquet").toPath)
    }
    val q = start(spark, src.getPath, s"$dir/ckpt", filesPerBatch = Some(1))
    try q.processAllAvailable() finally q.stop()
    FileUtils.deleteDirectory(new File(dir))
  }

  def measure(spark: SparkSession): Map[String, Any] = {
    val sc = spark.sparkContext
    val tracer = ctx.tracer
    val rec = new StageRecorder
    val src = s"${ctx.work}/stream-src"
    val ckpt = s"${ctx.work}/stream-ckpt"
    new File(src).mkdirs()
    tracer.active = tracer.enabled
    if (tracer.enabled) sc.addSparkListener(rec)
    val nFiles = staged.length
    val scheduled = Array.ofDim[Double](nFiles)
    val released = Array.ofDim[Double](nFiles)
    var error: String = null
    var progress = Seq.empty[org.apache.spark.sql.streaming.StreamingQueryProgress]
    tracer.span(sc, "stream") {
      val q = tracer.span(sc, "start")(start(spark, src, ckpt))
      try {
        val t0 = Clock.ms() + 500
        val gen = new Thread(() => {
          (0 until nFiles).foreach { i =>
            scheduled(i) = t0 + schedule(i)._3 * IntervalMs
            val wait = scheduled(i) - Clock.ms()
            if (wait > 0) Thread.sleep(wait.toLong, ((wait % 1) * 1e6).toInt)
            released(i) = release(staged(i)._1, src, f"f$i%05d.parquet")
          }
        }, "graftbench-generator")
        gen.start()
        gen.join()
        val total = staged.map(_._2).sum
        val deadline = Clock.ms() + 60000
        def consumed = q.recentProgress.map(_.numInputRows).sum
        while (q.exception.isEmpty && consumed < total && Clock.ms() < deadline) Thread.sleep(10)
        tracer.span(sc, "flush") {
          sentinels.zipWithIndex.foreach { case (f, i) =>
            release(f, src, f"s$i%05d.parquet")
            q.processAllAvailable()
          }
        }
      } catch {
        case NonFatal(e) => error = e.toString
      } finally {
        progress = q.recentProgress.toSeq
        q.exception.foreach(e => error = e.toString)
        q.stop()
      }
    }
    if (tracer.enabled) { rec.quiesce(); sc.removeSparkListener(rec) }
    tracer.active = false

    val batches = progress.map { p =>
      val st = p.stateOperators.headOption
      val observed = Option(p.observedMetrics.get("cep")).map(_.getLong(0)).getOrElse(0L)
      Map("batch" -> p.batchId, "start_ms" -> Instant.parse(p.timestamp).toEpochMilli,
        "input_rows" -> p.numInputRows, "matches" -> observed,
        "duration_ms" -> p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap,
        "state_rows" -> st.map(_.numRowsTotal).getOrElse(0L),
        "state_bytes" -> st.map(_.memoryUsedBytes).getOrElse(0L),
        "state_update_ms" -> st.map(_.allUpdatesTimeMs).getOrElse(0L),
        "state_removal_ms" -> st.map(_.allRemovalsTimeMs).getOrElse(0L),
        "state_commit_ms" -> st.map(_.commitTimeMs).getOrElse(0L))
    }
    val files = (0 until nFiles).map { i =>
      Map("name" -> f"f$i%05d.parquet", "turns" -> staged(i)._2,
        "phase" -> schedule(i)._1, "group" -> schedule(i)._2,
        "scheduled_ms" -> scheduled(i), "released_ms" -> released(i))
    }
    import spark.implicits._
    val events: Dataset[Ev] = spark.read.schema(evSchema).parquet(src).as[Ev]
      .filter(col("key") =!= Sentinel)
    val reference = BatchEvaluator.evaluate(events, patterns).count()
    val st: Map[String, Any] =
      if (tracer.enabled) Reference.singleThread(events, patterns) else Map.empty
    Map("files" -> files, "batches" -> batches, "source_log" -> s"$ckpt/sources/0",
      "stream_matches" -> batches.map(_("matches").asInstanceOf[Long]).sum,
      "reference" -> reference, "error" -> error, "stages" -> rec.records) ++ st
  }
}

object StreamSteady {
  /** Index of the first bound >= t (bounds ascending, t <= the last bound). */
  def lowerBound(bounds: Array[Long], t: Long): Int = {
    var lo = 0
    var hi = bounds.length - 1
    while (lo < hi) {
      val mid = (lo + hi) >>> 1
      if (bounds(mid) < t) lo = mid + 1 else hi = mid
    }
    lo
  }
}
