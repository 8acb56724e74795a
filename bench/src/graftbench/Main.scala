package graftbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}
import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.spark.sql.SparkSession
import graft.cep.{Compiler, Pattern}
import scala.jdk.CollectionConverters._

/** What every workload gets: the run's seed and measuring time, the host's core count,
  * and a scratch directory inside the checkout that bench/run.py deletes afterwards. */
final case class Ctx(seed: Long, seconds: Double, cores: Int, work: String, tracer: Tracer)

/** One workload: seeded input, the patterns it compiles, one untimed warm-up pass, and the
  * timed measurement. Raw observations only; bench/analysis.py turns them into metrics. */
trait Workload {
  def patterns: Seq[Pattern]
  /** Shuffle partitions of its queries. */
  def partitions: Int
  def generate(spark: SparkSession): Map[String, Any]
  def warm(spark: SparkSession, setup: Int): Unit
  def measure(spark: SparkSession): Map[String, Any]
}

/**
 * One benchmark run: `--workload <name> --seed <n> --seconds <s> --trace <0|1>
 * --work <dir> --out <file>`. Sets up [[SetupReps]] times (session start, pattern
 * compilation, one warm-up pass; the first from process start, input generation
 * excluded), measures the workload on the last session, and writes the raw observations
 * as one JSON object to `--out`.
 */
object Main {
  val SetupReps = 3

  def session(cores: Int, partitions: Int, work: String): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("graftbench")
      .config("spark.sql.shuffle.partitions", partitions.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      // keep every micro-batch's progress report for the latency mapping
      .config("spark.sql.streaming.numRecentProgressUpdates", "100000")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  private val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime.toDouble

  def log(msg: String): Unit =
    System.err.println(f"[graftbench ${(Clock.ms() - jvmStartMs) / 1000}%7.2f s] $msg")

  private def gcMs(): Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime.max(0L)).sum

  def main(args: Array[String]): Unit = {
    val opt = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val name = opt("workload")
    val trace = opt("trace") == "1"
    val cores = Runtime.getRuntime.availableProcessors()
    val ctx = Ctx(opt("seed").toLong, opt("seconds").toDouble, cores, opt("work"),
      new Tracer(trace, s"$name-${opt("seed")}"))
    val w: Workload = name match {
      case "batch_backfill" => new Backfill(ctx)
      case "stream_steady"  => new StreamSteady(ctx)
      case other            => throw new IllegalArgumentException(s"unknown workload $other")
    }

    var spark = session(cores, w.partitions, ctx.work)
    val firstSessionS = (Clock.ms() - jvmStartMs) / 1000
    val genT0 = Clock.ms()
    val input = w.generate(spark)
    val genS = (Clock.ms() - genT0) / 1000
    log(f"session $firstSessionS%.2f s, input generated in $genS%.2f s")

    val setups = (1 to SetupReps).map { i =>
      val t0 = Clock.ms()
      val sessionS =
        if (i == 1) firstSessionS
        else {
          spark.stop()
          spark = session(cores, w.partitions, ctx.work)
          (Clock.ms() - t0) / 1000
        }
      val c0 = Clock.ms()
      w.patterns.foreach(Compiler.compile)
      val compileS = (Clock.ms() - c0) / 1000
      val w0 = Clock.ms()
      w.warm(spark, i)
      val warmS = (Clock.ms() - w0) / 1000
      log(f"setup $i: session $sessionS%.2f s, compile $compileS%.4f s, warm pass $warmS%.2f s")
      Map("session_s" -> sessionS, "compile_s" -> compileS, "warm_pass_s" -> warmS,
        "total_s" -> (sessionS + compileS + warmS))
    }

    val gc0 = gcMs()
    val m0 = Clock.ms()
    val measured = w.measure(spark)
    val gcS = (gcMs() - gc0) / 1000.0
    log(f"measured in ${(Clock.ms() - m0) / 1000}%.2f s")
    spark.stop()
    log("session stopped")

    val out = Map("workload" -> name, "seed" -> ctx.seed, "seconds" -> ctx.seconds,
      "cores" -> cores, "trace" -> trace, "generate_s" -> genS, "setups" -> setups,
      "gc_s" -> gcS, "spans" -> ctx.tracer.all) ++ input ++ measured
    Files.write(Paths.get(opt("out")),
      new ObjectMapper().registerModule(DefaultScalaModule).writeValueAsBytes(out))
  }
}
