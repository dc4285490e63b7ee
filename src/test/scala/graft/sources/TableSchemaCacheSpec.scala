package graft.sources

import graft.SparkTestBase
import java.util.concurrent.atomic.AtomicInteger
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.{DataFrame, Row}
import org.scalatest.BeforeAndAfterAll

/** The session's parquet schema cache: a repeated read of an unchanged
  * table starts no Spark job, and any change to the table's files or to
  * the parquet inference settings is seen on the next read.
  */
class TableSchemaCacheSpec extends SparkTestBase with BeforeAndAfterAll {

  import spark.implicits._

  private lazy val base = java.nio.file.Files.createTempDirectory("graft_schema_cache").toFile

  private def freshDir(name: String): String = s"${base.getPath}/$name.parquet"

  override def afterAll(): Unit = {
    def rm(f: java.io.File): Unit = {
      if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(rm))
      f.delete(): Unit
    }
    try rm(base) finally super.afterAll()
  }

  /** Spark jobs started while `body` runs. The listener bus is
    * asynchronous, so a sentinel job is submitted afterwards: events
    * arrive in order, so once the sentinel's start is seen every job
    * `body` started has been counted.
    */
  private def jobsDuring[T](body: => T): (T, Int) = {
    val sentinel = s"schema-cache-sentinel-${java.util.UUID.randomUUID}"
    val seen = new AtomicInteger(0)
    val done = new java.util.concurrent.CountDownLatch(1)
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (Option(e.properties).exists(_.getProperty("spark.job.description") == sentinel))
          done.countDown()
        else seen.incrementAndGet(): Unit
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      val out = body
      spark.sparkContext.setJobDescription(sentinel)
      try spark.sparkContext.parallelize(Seq(1), 1).count()
      finally spark.sparkContext.setJobDescription(null)
      assert(done.await(30, java.util.concurrent.TimeUnit.SECONDS), "sentinel job never seen")
      (out, seen.get)
    } finally spark.sparkContext.removeSparkListener(listener)
  }

  private def rows(df: DataFrame): Seq[Row] = df.collect().toSeq.sortBy(_.toString)

  test("a second read of an unchanged table starts no job and matches spark.read.parquet") {
    val path = freshDir("unchanged")
    Seq((1L, "a", 1.5), (2L, "b", 2.5), (3L, "c", 3.5)).toDF("id", "s", "x")
      .repartition(2).write.parquet(path)
    val (_, first) = jobsDuring(TableSchemaCache.read(spark, path))
    assert(first >= 1, "the first read should infer the schema in a Spark job")
    val (second, jobs) = jobsDuring(TableSchemaCache.read(spark, path))
    assert(jobs == 0, s"a cached read started $jobs job(s)")
    val plain = spark.read.parquet(path)
    assert(second.schema == plain.schema)
    assert(rows(second) == rows(plain))
  }

  test("overwriting the path with a table of a different schema is detected") {
    val path = freshDir("overwrite")
    Seq((1L, "a"), (2L, "b")).toDF("id", "s").write.parquet(path)
    assert(TableSchemaCache.read(spark, path).columns.toSeq == Seq("id", "s"))
    Seq((7, 0.5, true)).toDF("k", "v", "flag").write.mode("overwrite").parquet(path)
    val again = TableSchemaCache.read(spark, path)
    assert(again.schema == spark.read.parquet(path).schema)
    assert(again.columns.toSeq == Seq("k", "v", "flag"))
    assert(rows(again) == Seq(Row(7, 0.5, true)))
  }

  test("a file added to the table is detected and its rows appear") {
    val path = freshDir("append")
    Seq(1L, 2L).toDF("id").write.parquet(path)
    assert(TableSchemaCache.read(spark, path).count() == 2)
    Seq(3L).toDF("id").write.mode("append").parquet(path)
    val (again, jobs) = jobsDuring(TableSchemaCache.read(spark, path))
    assert(jobs >= 1, "a changed file listing must re-infer")
    assert(rows(again) == Seq(Row(1L), Row(2L), Row(3L)))
  }

  test("changing a parquet inference setting infers the schema again") {
    val path = freshDir("setting")
    // two files whose schemas differ: which columns inference returns
    // follows spark.sql.parquet.mergeSchema (Spark writes its own schema
    // into every footer, so settings such as binaryAsString do not move
    // inference on Spark-written files)
    Seq((1L, "a")).toDF("id", "s").write.parquet(path)
    Seq((2L, 2.5)).toDF("id", "x").write.mode("append").parquet(path)
    val key = "spark.sql.parquet.mergeSchema"
    val prev = spark.conf.getOption(key)
    try {
      spark.conf.set(key, "false")
      assert(TableSchemaCache.read(spark, path).columns.length == 2)
      spark.conf.set(key, "true")
      val (merged, jobs) = jobsDuring(TableSchemaCache.read(spark, path))
      assert(jobs >= 1, "a changed inference setting must re-infer")
      assert(merged.columns.toSet == Set("id", "s", "x"))
      assert(merged.schema == spark.read.parquet(path).schema)
    } finally prev match {
      case Some(v) => spark.conf.set(key, v)
      case None => spark.conf.unset(key)
    }
  }
}
