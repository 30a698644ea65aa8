package graft

import graft.lake.LakeTable
import org.apache.spark.graftbridge.BusDrain
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec

import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._

/** Lake scans are planned from manifest entries: no listing job, a point
  * lookup in one stage, and the read semantics a listing-based scan had.
  */
class LakeReadSpec extends SparkSpec with AdaptiveSparkPlanHelper {
  import spark.implicits._

  private val cols = Seq("repo", "path", "op", "seq", "commit", "language", "content", "size_bytes")

  /** A 16-bucket MOR table of 3 batches × 160 keys: every batch appends one
    * file per bucket, so a full read plans 48 files — past the 32 paths
    * at which a listing-based scan lists files in a Spark job.
    */
  private def morTable(name: String): LakeTable = {
    val t = LakeTable(s"${tmpDir(name)}/t", 16, LakeTable.Mor)
    (0 until 3).foreach { b =>
      val rows = (0 until 160).map(i => (s"r${i % 10}", s"p$i", "U", (b * 1000 + i).toLong,
        s"c$b", "scala", s"v$b-$i", Option(i.toLong)))
      t.merge(spark, rows.toDF(cols: _*), b.toLong)
    }
    t
  }

  /** Jobs started while `body` runs, with their stages. */
  private def jobsDuring(body: => Unit): Seq[SparkListenerJobStart] = {
    val sc = spark.sparkContext
    val jobs = new java.util.concurrent.ConcurrentLinkedQueue[SparkListenerJobStart]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = jobs.add(e)
    }
    BusDrain(sc)
    sc.addSparkListener(listener)
    try { body; BusDrain(sc) } finally sc.removeSparkListener(listener)
    jobs.asScala.toSeq
  }

  private def scansTableFiles(j: SparkListenerJobStart): Boolean =
    j.stageInfos.exists(_.rddInfos.exists(_.name == "FileScanRDD"))

  private def describe(js: Seq[SparkListenerJobStart]): String =
    js.map(j => Option(j.properties).flatMap(p => Option(p.getProperty("spark.job.description")))
      .getOrElse(j.stageInfos.map(_.name).mkString("+"))).mkString("; ")

  test("read() and readWhereRepo plan from the manifest: no job besides the query's scan and aggregate") {
    val t = morTable("lake-plan")
    val h = t.head()
    assert(t.filesOf(h).size === 48)
    assert(t.filesForRepo(h, "r5").size > 32, "the repo scan must cover more than 32 files")
    Seq[(String, () => DataFrame)](
      "read" -> (() => t.read(spark)),
      "readWhereRepo" -> (() => t.readWhereRepo(spark, "r5"))).foreach { case (what, mk) =>
      var df: DataFrame = null
      val planning = jobsDuring { df = mk() }
      assert(planning.isEmpty, s"$what ran jobs while building its frame: ${describe(planning)}")
      var n = 0L
      val running = jobsDuring { n = df.count() }
      assert(n === (if (what == "read") 160L else 16L))
      assert(running.nonEmpty && running.forall(scansTableFiles),
        s"$what ran a job that scans no table file: ${describe(running)}")
      assert(!describe(running).contains("Listing leaf files"), describe(running))
    }
    // files carry the path form spark.read.parquet gives its qualified
    // inputs: the equal-seq tie-break compares input_file_name values
    val fs = new org.apache.hadoop.fs.Path(t.root).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val qualified = t.filesOf(h)
      .map(f => fs.makeQualified(new org.apache.hadoop.fs.Path(s"${t.root}/${f.path}")).toUri.toString).toSet
    val physical = t.readWithTombstones(spark)
    assert(physical.select(org.apache.spark.sql.functions.input_file_name()).distinct()
      .as[String].collect().toSet === qualified)
    assert(physical.inputFiles.toSet === qualified)
  }

  test("a point lookup of a present key runs in one stage: no shuffle exchange, one job") {
    val t = morTable("lake-lookup")
    var df: DataFrame = null
    var rows: Array[org.apache.spark.sql.Row] = null
    val jobs = jobsDuring {
      df = t.lookup(spark, "r3", "p13")
      rows = df.collect()
    }
    assert(rows.map(r => (r.getAs[String]("content"), r.getAs[Long]("seq"))).toSeq ===
      Seq(("v2-13", 2013L)))
    assert(jobs.size === 1, s"lookup jobs: ${describe(jobs)}")
    val exchanges = collect(df.queryExecution.executedPlan) { case e: ShuffleExchangeExec => e }
    assert(exchanges.isEmpty, df.queryExecution.executedPlan.toString)
    // an absent key, a deleted key and a COW table read the same way
    assert(t.lookup(spark, "r3", "nope").collect().isEmpty)
    t.merge(spark, Seq(("r3", "p13", "D", 9999L, "", "", "", Option.empty[Long]))
      .toDF(cols: _*), 3L)
    assert(t.lookup(spark, "r3", "p13").collect().isEmpty)
    val cow = LakeTable(s"${tmpDir("lake-lookup-cow")}/t", 4)
    cow.merge(spark, Seq(("r", "p", "I", 1L, "c", "scala", "x", Option(1L))).toDF(cols: _*), 0L)
    assert(cow.lookup(spark, "r", "p").select("content").as[String].collect().toSeq === Seq("x"))
  }

  test("reads of one file set are the same plan: sameResult and the cache manager match them") {
    val t = morTable("lake-cache")
    val a = t.read(spark)
    assert(a.queryExecution.analyzed.sameResult(t.read(spark).queryExecution.analyzed))
    def cached(df: DataFrame) = df.queryExecution.withCachedData.collectFirst {
      case r: org.apache.spark.sql.execution.columnar.InMemoryRelation => r
    }.nonEmpty
    a.cache()
    try {
      assert(a.count() === 160L)
      assert(cached(t.read(spark)), "a second read of the same snapshot must hit the cache")
      t.merge(spark, Seq(("r0", "p0", "U", 9999L, "c", "scala", "new", Option(1L)))
        .toDF(cols: _*), 3L)
      val next = t.read(spark)
      assert(!cached(next), "a read of a newer snapshot scans other files")
      assert(next.filter($"path" === "p0").select("content").as[String].collect().toSeq === Seq("new"))
    } finally a.unpersist()
  }

  test("manifest entries without sizeBytes (legacy manifests) read the same rows") {
    val t = morTable("lake-legacy-size")
    def rows(table: LakeTable) = (
      table.read(spark).orderBy("repo", "path").collect().toSeq,
      table.readWhereRepo(spark, "r5").orderBy("path").collect().toSeq,
      table.lookup(spark, "r3", "p13").collect().toSeq)
    val before = rows(t)
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    val manifests = Files.list(Paths.get(t.root, "meta", "manifests")).iterator().asScala.toSeq
    manifests.foreach { m =>
      val node = mapper.readTree(Files.readString(m))
      node.get("files").elements().asScala.foreach(
        _.asInstanceOf[com.fasterxml.jackson.databind.node.ObjectNode].remove("sizeBytes"))
      Files.writeString(m, mapper.writeValueAsString(node))
    }
    val legacy = LakeTable.open(t.root) // a fresh handle: no cached manifest bodies
    assert(legacy.filesOf(legacy.head()).forall(_.sizeBytes == 0L))
    assert(rows(legacy) === before)
    assert(before._1.size === 160 && before._2.size === 16 && before._3.size === 1)
  }

  test("a data file deleted after the read is planned fails the action, naming the file") {
    val t = morTable("lake-missing")
    Seq[(String, () => DataFrame)](
      "read" -> (() => t.read(spark)),
      "readWhereRepo" -> (() => t.readWhereRepo(spark, "r5")),
      "lookup" -> (() => t.lookup(spark, "r3", "p13"))).foreach { case (what, mk) =>
      val df = mk()
      val files = collect(df.queryExecution.executedPlan) {
        case s: org.apache.spark.sql.execution.FileSourceScanExec => s.relation.location.inputFiles
      }.flatten
      assert(files.nonEmpty)
      val victim = Paths.get(new java.net.URI(files.head))
      val saved = Files.readAllBytes(victim)
      Files.delete(victim)
      try {
        val e = intercept[Exception](df.collect())
        val msgs = Iterator.iterate(e: Throwable)(_.getCause).takeWhile(_ != null)
          .map(x => Option(x.getMessage).getOrElse("")).mkString(" | ")
        assert(msgs.contains(victim.getFileName.toString), s"$what: $msgs")
      } finally Files.write(victim, saved)
    }
  }
}
