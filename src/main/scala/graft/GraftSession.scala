package graft

import org.apache.spark.sql.SparkSession

/** The one session profile: every graft main (Bench, Verify,
  * FormattedPlanDump, ScaleGen) and the test suite build their session
  * here, so the suite exercises the conf the graded runs use. A caller
  * embedding the library in its own session should copy [[profile]]:
  * the mains' numbers are measured with it.
  *
  * A main's session is `local[SPARK_GRAFT_CPUS]` (default: the host's
  * available processors) with one shuffle partition per core, then the
  * `SPARK_GRAFT_EXTRA_CONFS` entries on top (see [[extraConfs]]).
  */
object GraftSession {

  /** The shared confs, each with its reason. */
  def profile(cores: String, partitions: String): Seq[(String, String)] = Seq(
    "spark.master" -> s"local[$cores]",
    "spark.sql.shuffle.partitions" -> partitions,
    "spark.sql.session.timeZone" -> "UTC",
    // at session build, not as a Tables.events side effect: the flag is
    // session-wide and behavior must not depend on read order
    "spark.sql.legacy.parquet.nanosAsLong" -> "true",
    // reset the Java serialization handle table after EVERY object:
    // the disk leg of big caches writes fat columnar batches through
    // one ObjectOutputStream, and the default reset-every-100 retains
    // ~100 batches (~GBs) per task — the x100/8g text-cache OOM
    "spark.serializer.objectStreamReset" -> "1",
    // codegen cache sized to the suite (STATIC conf, default 100
    // entries): 175 queries × several codegen units each churn the
    // default cache continuously, so cross-query runs recompile
    // janino units they compiled minutes earlier (measured as eviction
    // at ~60 intervening queries). Scale-neutral: the cache holds
    // compiled classes for DISTINCT plan shapes, a workload property,
    // not a data-size one.
    "spark.sql.codegen.cache.maxEntries" -> "2000",
    // let AQE coalesce CACHED-plan output partitioning too (round-16,
    // "fewer, larger" partitions): default-off, which pins every
    // in-query .cache()'d relation at the raw shuffle partition count,
    // so each of its consumers pays one task per shuffle partition
    // regardless of data size (measured: q_rfm_approx warm 1.15 -> 0.72 s,
    // 9 -> 6 jobs; the dedup-family IMR consumers shed tasks the same
    // way). Scale-adaptive by construction - AQE sizes partitions from
    // bytes, not from a tuned constant.
    "spark.sql.optimizer.canChangeCachedPlanOutputPartitioning" -> "true",
    "spark.ui.enabled" -> "false")

  /** A builder carrying `confs` in order, so a later entry wins. */
  def builder(confs: Seq[(String, String)]): SparkSession.Builder =
    confs.foldLeft(SparkSession.builder()) { case (b, (k, v)) => b.config(k, v) }

  /** Parses `SPARK_GRAFT_EXTRA_CONFS` ("k=v;k=v"): entries without `=`
    * are skipped, and a value may itself contain `=` (an
    * `extraJavaOptions=--add-opens=…` entry). Applied after the profile,
    * so an entry overrides a default, and a later entry an earlier one —
    * `spark.master=…` included, which is how tools/local_cluster_bench.sh
    * swaps in a local-cluster master. */
  def extraConfs(spec: String): Seq[(String, String)] =
    spec.split(";").toSeq.map(_.trim).filter(_.contains("=")).map { kv =>
      val Array(k, v) = kv.split("=", 2)
      k -> v
    }

  /** A main's confs, read from `env`: the profile, then the extra
    * entries. `partitions` overrides the one-per-core default (ScaleGen
    * pins 32 so its output does not depend on the host). */
  def mainConfs(partitions: Option[String],
      env: String => Option[String] = sys.env.get): Seq[(String, String)] = {
    val cores = env("SPARK_GRAFT_CPUS").getOrElse(Runtime.getRuntime.availableProcessors.toString)
    profile(cores, partitions.getOrElse(cores)) ++
      env("SPARK_GRAFT_EXTRA_CONFS").toSeq.flatMap(extraConfs)
  }

  def forMain(partitions: Option[String] = None): SparkSession =
    builder(mainConfs(partitions)).getOrCreate()
}
