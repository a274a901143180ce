package perfbench

import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col

import graft.SparkEntry
import graft.api.{ResultCache, Upsert}

/** Closed-loop client: one caller on one `local[nproc]` session runs the
  * calls of a plan file, each after the previous one has returned, until
  * the timed window closes.
  *
  * Plan lines (tab-separated), made by workload.py:
  *   warm  <call line>                             untimed set-up call
  *   cycle <n>                                     the rounds up to the next cycle run
  *                                                 if a cycle of the mean length so far
  *                                                 would end inside the window
  *   round <n>                                     the round number of the calls after it
  *   first <query> <dataDir> <answerDir>           after clearCache + ResultCache.clear
  *   repeat <query> <dataDir> <answerDir>          same query again, nothing cleared
  *   write <table> <prevDir> <changes> <outDir>    Upsert of a change batch, new version
  *
  * Every timed call ends in a parquet write of its whole answer, so every
  * row and column is materialized and the oracle check reads exactly the
  * answer the timed call produced. One JSON line per call goes to
  * `<outDir>/calls.jsonl`; set-up time, calibration readings and (traced)
  * spans go to `<outDir>/harness.json`.
  *
  * Usage: Harness <planFile> <outDir> <seconds> <trace 0|1>
  */
object Harness {

  def main(args: Array[String]): Unit = {
    val Array(planFile, outDir, secondsArg, traceArg) = args
    val seconds = secondsArg.toDouble
    val traced = traceArg == "1"
    val processStartMs = ManagementFactory.getRuntimeMXBean.getStartTime
    val plan = Files.readAllLines(Paths.get(planFile)).asScala.toSeq
      .filter(_.nonEmpty).map(_.split("\t").toSeq)
    val cpus = Runtime.getRuntime.availableProcessors()

    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.warehouse.dir", s"$outDir/warehouse")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val tracer = if (traced) Some(new Tracer(spark)) else None
    val sessionS = (System.currentTimeMillis() - processStartMs) / 1e3
    val warm = scala.collection.mutable.ArrayBuffer.empty[String]

    val calls = new StringBuilder
    val cal = scala.collection.mutable.ArrayBuffer.empty[(Int, Double)]
    var setupS = Double.NaN
    var windowStart = 0L
    var cycles = 0
    var round = 0
    var open = false
    var callNo = 0

    for (step <- plan) step.head match {
      case "warm" =>
        val t0 = System.nanoTime()
        tryRun(call(spark, None, step.tail))
        warm += s"""{"name":${Json.str(step(2))},"latency_s":${(System.nanoTime() - t0) / 1e9}}"""
      case "cycle" =>
        if (windowStart == 0L) {
          spark.catalog.clearCache(); ResultCache.clear()
          setupS = (System.currentTimeMillis() - processStartMs) / 1e3
          System.gc()
          cal += ((0, Calibration.scalar()))
          windowStart = System.nanoTime()
        }
        // whole cycles only: a cycle starts if the mean cycle so far would
        // still end in the window, and the first always runs
        val elapsed = System.nanoTime() - windowStart
        open = cycles == 0 || (open && elapsed + elapsed / cycles <= seconds * 1e9)
        if (open) cycles += 1
      case "round" =>
        if (open) round = step(1).toInt
      case kind if open =>
        if (kind == "first") { spark.catalog.clearCache(); ResultCache.clear() }
        val name = step(1)
        tracer.foreach(_.beginCall())
        val t0 = System.nanoTime()
        val err = tryRun(call(spark, tracer, step))
        val t1 = System.nanoTime()
        val layers = tracer.map(_.endCall()).getOrElse("")
        val (storageMb, cachedRelations) = Storage.sample(spark)
        callNo += 1
        calls ++= s"""{"call":$callNo,"round":$round,"kind":"$kind","name":"$name","""
        calls ++= s""""out":${Json.str(step.last)},"t_start_s":${(t0 - windowStart) / 1e9},"""
        calls ++= s""""latency_s":${(t1 - t0) / 1e9},"error":${err.map(Json.str).getOrElse("null")},"""
        calls ++= s""""storage_mb":$storageMb,"cached_relations":$cachedRelations$layers}""" + "\n"
        if (callNo % 20 == 0) cal += ((callNo, Calibration.scalar()))
      case _ => ()
    }
    val windowS = (System.nanoTime() - windowStart) / 1e9
    cal += ((callNo, Calibration.scalar()))

    Files.writeString(Paths.get(s"$outDir/calls.jsonl"), calls.toString)
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), SparkEntry.oracleSql
      .map { case (k, v) => s"${Json.str(k)}:${Json.str(v)}" }.mkString("{", ",", "}"))
    val calJson = cal.map { case (n, s) => s"""{"after_call":$n,"scalar_s":$s}""" }
      .mkString("[", ",", "]")
    val spans = tracer.map(t => s""","spans":${t.spansJson}""").getOrElse("")
    Files.writeString(Paths.get(s"$outDir/harness.json"),
      s"""{"setup_s":$setupS,"session_s":$sessionS,"warm":${warm.mkString("[", ",", "]")},"window_s":$windowS,"cpus":$cpus,"calibration":$calJson$spans}""",
      StandardCharsets.UTF_8)
    spark.stop()
  }

  /** One call: build the DataFrame (a query, or an Upsert of a change
    * batch), then write all of it to the step's output directory. */
  private def call(spark: SparkSession, tracer: Option[Tracer], step: Seq[String]): Unit = {
    val df = phase(tracer, "build") {
      if (step.head == "write") writeCall(spark, step(1), step(2), step(3))
      else SparkEntry.queries(step(1))(spark, step(2))
    }
    tracer.foreach(_.noteBuilt(df))
    phase(tracer, "execute")(df.write.mode("overwrite").parquet(step.last))
  }

  /** Runs `body`; a failure becomes its message instead of an exception. */
  private def tryRun(body: => Unit): Option[String] =
    try { body; None }
    catch {
      case e: Throwable =>
        Some(s"${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).take(300)}")
    }

  private def phase[T](tracer: Option[Tracer], name: String)(body: => T): T =
    tracer match {
      case Some(t) => t.phase(name)(body)
      case None => body
    }

  /** Documents take MERGE batches (delete/update/insert rows) through
    * `Upsert.mergeInto`; events take plain upsert batches through
    * `Upsert.upsert`, ordered on the key itself, so every change row ties
    * with the row it replaces and, by upsert's rule, wins. */
  private def writeCall(spark: SparkSession, table: String, prevDir: String,
      changesFile: String): DataFrame = {
    val target = spark.read.parquet(s"$prevDir/$table.parquet")
    val raw = spark.read.parquet(changesFile)
    val typed = target.schema.fields.toSeq.map(f => col(f.name).cast(f.dataType).as(f.name))
    table match {
      case "documents" =>
        Upsert.mergeInto(target, raw.select(typed :+ col("op"): _*), "doc_id").drop("src")
      case "events" =>
        Upsert.upsert(target, raw.select(typed: _*), Seq("event_id"), "event_id")
    }
  }
}

/** Bytes Spark block storage holds right now, memory plus disk, and the
  * number of cached relations, read through `SparkContext.getRDDStorageInfo`. */
object Storage {
  def sample(spark: SparkSession): (Double, Int) = {
    val infos = spark.sparkContext.getRDDStorageInfo.filter(_.numCachedPartitions > 0)
    (infos.map(i => i.memSize + i.diskSize).sum / 1048576.0, infos.length)
  }
}

/** A fixed single-threaded integer loop: its time is a reading of how much
  * the host's other load slows one core, not of the program. */
object Calibration {
  private def once(): Double = {
    val t0 = System.nanoTime()
    var s = 0L; var i = 0L
    while (i < 100000000L) { s += i ^ (i >> 3); i += 1 }
    if (s == 42L) println("")
    (System.nanoTime() - t0) / 1e9
  }

  /** Best of three after one JIT warm-up round: a short burst raises one
    * reading, sustained load raises all three. */
  def scalar(): Double = { once(); Seq(once(), once(), once()).min }
}

object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
}
