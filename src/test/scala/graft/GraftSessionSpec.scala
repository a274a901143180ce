package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

/** The one session profile: the suite runs the conf the mains run,
  * `SPARK_GRAFT_EXTRA_CONFS` parses the way the tools use it, and no
  * main builds a session of its own. */
class GraftSessionSpec extends SparkSpec {

  test("the shared test session carries every GraftSession profile conf") {
    // the SparkConf the context was built with: runtime conf.set calls
    // (Tables.events sets nanosAsLong) cannot mask a missing default
    val built = spark.sparkContext.getConf
    val missing = GraftSession.profile("4", "4").filterNot { case (k, v) =>
      built.getOption(k).contains(v)
    }
    assert(missing.isEmpty, s"profile confs absent or different in TestSpark: $missing")
  }

  test("SPARK_GRAFT_EXTRA_CONFS: later entries win, bare entries skipped, '=' kept in values") {
    val parsed = GraftSession.extraConfs(
      " spark.sql.shuffle.partitions=8 ; noEquals;;" +
        "spark.executor.extraJavaOptions=--add-opens=java.base/java.lang=ALL-UNNAMED;" +
        "spark.sql.shuffle.partitions=16")
    assert(parsed == Seq(
      "spark.sql.shuffle.partitions" -> "8",
      "spark.executor.extraJavaOptions" -> "--add-opens=java.base/java.lang=ALL-UNNAMED",
      "spark.sql.shuffle.partitions" -> "16"))
    // a main applies them after the profile; the builder keeps the last
    // write per key, as toMap does
    val env = Map("SPARK_GRAFT_CPUS" -> "8",
      "SPARK_GRAFT_EXTRA_CONFS" ->
        "spark.master=local-cluster[2,8,3072];spark.sql.shuffle.partitions=4")
    val resolved = GraftSession.mainConfs(None, env.get).toMap
    assert(resolved("spark.master") == "local-cluster[2,8,3072]")
    assert(resolved("spark.sql.shuffle.partitions") == "4")
    assert(resolved("spark.sql.session.timeZone") == "UTC")
    assert(GraftSession.mainConfs(Some("32"), Map("SPARK_GRAFT_CPUS" -> "8").get).toMap ==
      GraftSession.profile("8", "32").toMap)
  }

  test("SPARK_GRAFT_CPUS unset: local[<available processors>], one partition per core") {
    val cores = Runtime.getRuntime.availableProcessors.toString
    val resolved = GraftSession.mainConfs(None, Map.empty[String, String].get).toMap
    assert(resolved == GraftSession.profile(cores, cores).toMap)
    // ScaleGen's pinned partition count does not follow the host
    val scaleGen = GraftSession.mainConfs(Some("32"), Map.empty[String, String].get).toMap
    assert(scaleGen("spark.sql.shuffle.partitions") == "32")
  }

  test("no file under src/main but GraftSession builds a SparkSession") {
    val files = Files.walk(Paths.get("src/main")).iterator().asScala
      .filter(p => Files.isRegularFile(p) && p.toString.endsWith(".scala")).toSeq
    assert(files.exists(_.getFileName.toString == "GraftSession.scala"))
    val builders = files.filter { p: Path =>
      p.getFileName.toString != "GraftSession.scala" &&
        Files.readString(p).contains("SparkSession.builder()")
    }
    assert(builders.isEmpty, s"session built outside GraftSession: ${builders.mkString(", ")}")
  }
}
