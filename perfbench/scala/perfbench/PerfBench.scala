package perfbench

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import graft.{GraftSession, SparkEntry, TaskSizeGuard}
import org.apache.spark.sql.DataFrame
import java.io.File
import java.nio.file.Files
import java.time.Instant

/** One benchmark run inside one JVM, driving the engine only through its
  * public entry points. `perfbench/run.py` launches it and turns the raw
  * record it writes into metrics.
  *
  * Arguments are `key=value`:
  *  - `workload`, `data` (input directory), `warmup_data` (input of the
  *    warm-up query), `queries` (comma-separated),
  *    `seed`, `cpus`, `out` (run directory; `result.json` is written there)
  *  - `settle_passes`: untimed warm passes before the timed ones
  *  - `seconds`, `min_samples`: timed warm passes run until both the time
  *    and the untraced sample count are reached
  *  - `trace=1`: alternate untraced and traced passes, the cold one traced
  *
  * Set-up is session creation plus one untimed warm-up query, as in
  * `graft.Bench`. Then a cold pass runs each query once, writing its
  * output as parquet under `out/<query>` for the oracle check. Warm passes
  * follow, settling ones then timed ones, each running every query once in
  * an order drawn from `seed`,
  * timed as `graft.Bench` times them: build plus noop-sink execution, with
  * `clearCache` after each query outside the timed region.
  */
object PerfBench {

  def main(args: Array[String]): Unit = {
    val opt = args.map { a => val i = a.indexOf('='); a.take(i) -> a.drop(i + 1) }.toMap
    val dir = opt("data")
    val out = new File(opt("out"))
    out.mkdirs()
    val spark = GraftSession.getOrCreate(opt("cpus").toInt)
    TaskSizeGuard.install()
    val queries = SparkEntry.queries
    queries("q01_agg")(spark, opt("warmup_data")).write.format("noop").mode("overwrite").save()
    spark.catalog.clearCache()
    val setupDone = epochUs() / 1e6

    val workload = opt("workload")
    val names = opt("queries").split(",").toSeq
    val trace = opt("trace") == "1"
    val rng = new scala.util.Random(opt("seed").toLong)
    val tracer = new Tracer(spark)

    def run(pass: Int, name: String, traced: Boolean, sink: Option[String]): Map[String, Any] = {
      val qid = s"$workload/$pass/$name"
      val rddsBefore = spark.sparkContext.getPersistentRDDs.keySet.toSet
      val oversizedBefore = TaskSizeGuard.warnings.size
      val u0 = epochUs()
      val q = if (traced) tracer.beginQuery(qid, u0) else -1
      val t0 = System.nanoTime()
      var tBuild = t0
      var df: Option[DataFrame] = None
      val error = try {
        df = Some(queries.getOrElse(name, sys.error(s"unknown query $name"))(spark, dir))
        tBuild = System.nanoTime()
        if (traced) tracer.beginExecute(q, qid, u0 + (tBuild - t0) / 1000)
        sink match {
          case Some(path) => df.get.write.mode("overwrite").parquet(path)
          case None => df.get.write.format("noop").mode("overwrite").save()
        }
        None
      } catch { case e: Throwable => Some(e.toString.linesIterator.next().take(500)) }
      val t1 = System.nanoTime()
      if (traced) tracer.endQuery(q, qid, u0 + (t1 - t0) / 1000,
        df.map(_.queryExecution.tracker), rddsBefore,
        TaskSizeGuard.warnings.size - oversizedBefore)
      val c0 = epochUs()
      spark.catalog.clearCache()
      if (traced) tracer.clearedCache(q, qid, c0, epochUs())
      Map("pass" -> pass, "name" -> name, "traced" -> traced,
        "build_s" -> (tBuild - t0) / 1e9, "total_s" -> (t1 - t0) / 1e9,
        "ok" -> error.isEmpty, "error" -> error.orNull)
    }

    val context = Map(
      "cpus" -> opt("cpus").toInt,
      "available_processors" -> Runtime.getRuntime.availableProcessors(),
      "cpu_canary_s" -> canary(),
      "heap_max_bytes" -> Runtime.getRuntime.maxMemory(),
      "java_version" -> System.getProperty("java.version"),
      "spark_version" -> spark.version,
      "scala_version" -> scala.util.Properties.versionNumberString)

    if (trace) tracer.register()
    val cold = rng.shuffle(names).map(n => run(0, n, trace, Some(new File(out, n).getPath)))
    if (trace) tracer.unregister()

    // settle passes let the JIT reach its plateau before the timed passes;
    // they are run and checked for errors like any other but not timed
    val settle = (1 to opt("settle_passes").toInt).flatMap { p =>
      rng.shuffle(names).map(n => run(p, n, traced = false, None) + ("settle" -> true))
    }
    val seconds = opt("seconds").toDouble
    val minSamples = opt("min_samples").toInt
    val warm = Seq.newBuilder[Map[String, Any]]
    val start = System.nanoTime()
    var pass = settle.size / names.size
    var untracedSamples = 0
    while ((System.nanoTime() - start) / 1e9 < seconds || untracedSamples < minSamples) {
      pass += 1
      // traced passes alternate with untraced ones, so the difference of
      // their pass times is the tracing overhead at the same JIT state
      val traced = trace && untracedSamples > 0 && (pass - settle.size / names.size) % 2 == 0
      if (traced) tracer.register()
      warm ++= rng.shuffle(names).map(n => run(pass, n, traced, None))
      if (traced) tracer.unregister() else untracedSamples += names.size
    }

    val (spans, counters) = tracer.results
    val result = Map(
      "setup_done_epoch_s" -> setupDone,
      "context" -> context,
      "executions" -> (cold ++ settle ++ warm.result()),
      "spans" -> spans.map(s => Map("id" -> s.id, "parent" -> s.parent, "name" -> s.name,
        "qid" -> s.qid, "start_us" -> s.startUs, "end_us" -> s.endUs)),
      "counters" -> counters,
      "oracle_sql" -> names.flatMap(n => SparkEntry.oracleSql.get(n).map(n -> _)).toMap,
      "oversized_task_warnings" -> TaskSizeGuard.warnings.size,
      "vm_hwm_kb" -> vmHwmKb())
    val mapper = new ObjectMapper().registerModule(DefaultScalaModule)
    Files.writeString(new File(out, "result.json").toPath, mapper.writeValueAsString(result))
    spark.stop()
  }

  private def epochUs(): Long = {
    val i = Instant.now()
    i.getEpochSecond * 1000000L + i.getNano / 1000
  }

  /** The single-thread CPU canary of `graft.Bench`: a fixed 2^28-step
    * xorshift loop, so results from different hosts can be compared. */
  private def canary(): Double = {
    val t0 = System.nanoTime()
    var x = 0x9E3779B97F4A7C15L
    var i = 0
    while (i < (1 << 28)) { x ^= x << 13; x ^= x >>> 7; x ^= x << 17; i += 1 }
    if (x == 42L) System.err.println("canary fixed point")
    (System.nanoTime() - t0) / 1e9
  }

  /** The process's resident-set high-water mark (`VmHWM`). */
  private def vmHwmKb(): Long =
    Files.readAllLines(java.nio.file.Paths.get("/proc/self/status")).toArray(Array.empty[String])
      .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toLong).getOrElse(-1L)
}
