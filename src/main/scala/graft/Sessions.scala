package graft

import graft.lake.{NoForkLocalFileSystem, NoForkLocalFs}
import org.apache.spark.sql.SparkSession

/** Session factory with the engine's scale-oriented defaults: AQE on
  * (runtime re-plan, skew-join split), shuffle partitions sized to cores
  * (not the 200 default), UTC, broadcast threshold suited to dimension
  * joins. On a real cluster the same confs apply via spark-submit.
  */
object Sessions {

  /** Runtime-settable SQL confs the engine depends on — applied defensively
    * when running inside a session we didn't build (e.g. the driver's):
    * LwwAgg needs the ObjectHashAggregate fallback threshold above the
    * default 128 groups/task or every real batch demotes to a sort.
    */
  def tune(spark: SparkSession): Unit = {
    val key = "spark.sql.objectHashAggregate.sortBased.fallbackThreshold"
    val cur = scala.util.Try(spark.conf.get(key).toLong).getOrElse(128L)
    if (cur < 4194304L) spark.conf.set(key, "4194304")
    spark.conf.set("spark.sql.adaptive.enabled", "true")
    spark.conf.set("spark.sql.adaptive.skewJoin.enabled", "true")
  }
  /** Parse the `GRAFT_EXTRA_CONF` value: semicolon-separated `k=v` pairs;
    * entries without '=' are dropped; values may themselves contain '='.
    */
  def parseExtraConf(s: String): Seq[(String, String)] =
    s.split(';').toSeq.map(_.trim).filter(_.contains("="))
      .map { kv => val i = kv.indexOf('='); kv.take(i) -> kv.drop(i + 1) }

  def local(cores: Int, appName: String = "graft",
            extra: Map[String, String] = Map.empty,
            masterOverride: Option[String] = None): SparkSession = {
    // GRAFT_MASTER (or the explicit override) replaces the single-JVM
    // local[cores] default — e.g. `local-cluster[8,4,6144]` runs 8 separate
    // 4-core executor JVMs (the standalone-mode launch path, the closest
    // spark-submit analog this sandbox offers; requires SPARK_HOME and
    // spark.executor.extraClassPath for `java -cp` launches). `cores`
    // still sizes spark.sql.shuffle.partitions = total parallelism.
    val master = masterOverride
      .orElse(sys.env.get("GRAFT_MASTER"))
      .getOrElse(s"local[$cores]")
    val b = SparkSession.builder()
      .master(master)
      .appName(appName)
      // SQL MERGE INTO surface for graft_lake.`<path>` targets
      .config("spark.sql.extensions", "graft.plans.GraftExtensions")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.autoBroadcastJoinThreshold", (64L << 20).toString)
      .config("spark.sql.files.maxPartitionBytes", (128L << 20).toString)
      .config("spark.sql.parquet.compression.codec", "zstd")
      // LwwAgg (TypedImperativeAggregate) runs in ObjectHashAggregateExec;
      // the default sort-fallback threshold (128 groups/task) would demote
      // nearly every real batch to a full sort. Buffers are one payload row
      // per live key per task — bounded, so a high threshold is safe.
      .config("spark.sql.objectHashAggregate.sortBased.fallbackThreshold", "4194304")
      // file: through java.nio instead of a forked chmod per created file
      // and directory and readlinks per checkpoint rename (graft.lake.
      // NoForkLocalFs). Hadoop caches the file: FileSystem once per JVM,
      // so these must reach its first use: every engine session is built here.
      .config("spark.hadoop.fs.file.impl", classOf[NoForkLocalFileSystem].getName)
      .config("spark.hadoop.fs.AbstractFileSystem.file.impl", classOf[NoForkLocalFs].getName)
    // Shuffle/spill dir: this sandbox's root disk serializes concurrent
    // writers (measured: wide-row shuffles ANTI-scaled 8→32 threads until
    // moved to tmpfs). A real cluster puts spark.local.dir on NVMe; here
    // /dev/shm is the analog. Override with GRAFT_LOCAL_DIR.
    val localDir = sys.env.get("GRAFT_LOCAL_DIR").orElse {
      val shm = java.nio.file.Paths.get("/dev/shm")
      if (java.nio.file.Files.isWritable(shm)) Some("/dev/shm/spark-local") else None
    }
    localDir.foreach { d =>
      java.nio.file.Files.createDirectories(java.nio.file.Paths.get(d))
      b.config("spark.local.dir", d)
    }
    // Operational conf hook for the CLI tools (spark-submit users have
    // --conf; `java -cp` launches get this): semicolon-separated k=v list,
    // e.g. GRAFT_EXTRA_CONF="spark.shuffle.compress=false;spark.foo=bar".
    // Applied before `extra` so programmatic callers win.
    val envExtra = parseExtraConf(sys.env.getOrElse("GRAFT_EXTRA_CONF", ""))
    val withEnv = envExtra.foldLeft(b) { case (bb, (k, v)) => bb.config(k, v) }
    val withExtra = extra.foldLeft(withEnv) { case (bb, (k, v)) => bb.config(k, v) }
    val spark = withExtra.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
