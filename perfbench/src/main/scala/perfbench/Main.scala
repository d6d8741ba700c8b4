package perfbench

import java.nio.file.{Files, Path, Paths}
import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, Observation, SparkSession}
import org.json4s.DefaultFormats
import org.json4s.jackson.Serialization
import org.apache.spark.sql.functions.{col, count, lit, sum, xxhash64}

import graft.{GraftSession, Queries, SparkEntry}
import graft.pipeline.{ConfigJson, Pipeline}

/** The benchmark's JVM side. It starts a graft session, runs warm-up and
  * measured passes of one workload, and writes every raw measurement to a
  * JSON file; `run.py` checks the outputs and derives the metrics.
  *
  * A pass of a load workload is one `Pipeline.run` of the workload's JSON
  * config into a fresh output directory. A pass of `query_mix` builds each
  * named query through `SparkEntry.queries` and forces it with a noop write,
  * which also collects the result's row count and hash. After the first
  * measured pass the `--oracle` queries' results are written as parquet for
  * `run.py` to compare with DuckDB.
  * After `WarmupPasses`, measured passes run until `--seconds` have elapsed
  * and at least `MinPasses` are done (never more than `MaxPasses`). With
  * `--trace 1` passes alternate between traced (job/stage/task listener and
  * query-execution listener attached) and untraced, so the tracing overhead
  * can be read off the same run.
  */
object Main {

  val WarmupPasses = 4
  val MinPasses = 5
  val MaxPasses = 60

  final case class Args(workload: String, data: String, work: String,
    seconds: Double, trace: Boolean, cores: Int, config: Option[String],
    queries: Seq[String], oracle: Seq[String], out: String)

  private def list(v: Option[String]): Seq[String] =
    v.toSeq.flatMap(_.split(",")).filter(_.nonEmpty)

  def parse(argv: Array[String]): Args = {
    val m = argv.grouped(2).collect { case Array(k, v) =>
      k.stripPrefix("--") -> v }.toMap
    def need(k: String) = m.getOrElse(k,
      throw new IllegalArgumentException(s"missing --$k"))
    Args(need("workload"), need("data"), need("work"),
      need("seconds").toDouble, need("trace") == "1", need("cores").toInt,
      m.get("config"),
      list(m.get("queries")), list(m.get("oracle")), need("out"))
  }

  def session(a: Args): SparkSession = {
    val s = GraftSession.builder(s"local[${a.cores}]", a.cores)
      .config("spark.local.dir", s"${a.work}/spark-local")
      .config("spark.sql.warehouse.dir", s"${a.work}/warehouse")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  /** Data files (not markers or checksums) under `dir`: (count, bytes). */
  def dataFiles(dir: Path): (Long, Long) = {
    if (!Files.isDirectory(dir)) return (0L, 0L)
    val s = Files.walk(dir)
    try {
      val fs = s.filter(p => Files.isRegularFile(p) && {
        val n = p.getFileName.toString
        !n.startsWith("_") && !n.startsWith(".")
      }).toArray.map(_.asInstanceOf[Path])
      (fs.length.toLong, fs.map(Files.size).sum)
    } finally s.close()
  }

  /** `df` with its row count and order-independent content hash collected
    * into `digest` by whatever action runs it, so checking a query's result
    * does not run the query again.
    */
  def digested(df: DataFrame, digest: Observation): DataFrame =
    df.observe(digest, count(lit(1)).as("rows"),
      sum(xxhash64(df.columns.toIndexedSeq.map(c => col(s"`$c`")): _*)
        .cast("decimal(38,0)")).cast("string").as("hash"))

  def main(argv: Array[String]): Unit = {
    val a = parse(argv)
    val jvmStartMs = java.lang.management.ManagementFactory
      .getRuntimeMXBean.getStartTime.toDouble
    Files.createDirectories(Paths.get(a.work))

    // set-up: a cold start, from JVM start to a ready session
    val spark = session(a)
    val sessionEndMs = System.currentTimeMillis().toDouble
    val heap = new HeapAfterGc
    val sc = spark.sparkContext
    val spans = new Spans(sc)
    val cpu = new CpuCounter
    sc.addSparkListener(cpu)
    val trace = new TraceListener
    val plans = new PlanListener

    val configJson = a.config.map(p => Files.readString(Paths.get(p)))
    val outRoot = Paths.get(a.work, "out")

    /** One pass; returns per-query timings for query_mix. */
    def body(tag: String): (Seq[Map[String, Any]], Seq[(String, DataFrame)]) =
      configJson match {
        case Some(json) =>
          spans("pipeline.run") {
            Pipeline.run(spark, ConfigJson.parse(json),
              outRoot.resolve(tag).toString)
          }
          (Nil, Nil)
        case None =>
          val rows = a.queries.map { q =>
            val b0 = System.nanoTime()
            val df = spans("query.build") {
              SparkEntry.queries(q)(spark, a.data)
            }
            val b1 = System.nanoTime()
            val digest = Observation(s"digest_$q")
            spans("query.exec") {
              digested(df, digest).write.format("noop").mode("overwrite")
                .save()
            }
            val b2 = System.nanoTime()
            val d = digest.get
            (Map[String, Any]("name" -> q, "build_s" -> (b1 - b0) / 1e9,
              "exec_s" -> (b2 - b1) / 1e9, "rows" -> d("rows"),
              "hash" -> Option(d("hash")).getOrElse("0")), q -> df)
          }
          (rows.map(_._1), rows.map(_._2))
      }

    val warmS = mutable.ArrayBuffer.empty[Double]
    spans("setup.warmup") {
      for (w <- 0 until WarmupPasses) {
        val t0 = System.nanoTime()
        body(s"warm$w")
        warmS += (System.nanoTime() - t0) / 1e9
        Queries.purgeTempDirs()
      }
    }

    heap.takeMb()
    val passes = mutable.ArrayBuffer.empty[Map[String, Any]]
    val t0All = System.nanoTime()
    var k = 0
    def enough: Boolean = {
      val byMode = passes.groupBy(_("traced")).view.mapValues(_.size)
      val modes = if (a.trace) Seq(true, false) else Seq(false)
      val done = modes.forall(m => byMode.getOrElse(m, 0) >= MinPasses)
      k >= MaxPasses ||
        (done && (System.nanoTime() - t0All) / 1e9 >= a.seconds)
    }
    while (!enough) {
      val traced = a.trace && k % 2 == 0
      if (traced) {
        trace.pass = k; plans.pass = k
        sc.addSparkListener(trace)
        spark.listenerManager.register(plans)
      }
      spans.pass = k
      sc.setLocalProperty(Props.Pass, k.toString)
      val tag = f"p$k%03d"
      val t0 = System.nanoTime()
      val start = spans.now()
      val outcome = scala.util.Try(spans("pass")(body(tag)))
      val wall = (System.nanoTime() - t0) / 1e9
      val end = spans.now()
      sc.setLocalProperty(Props.Pass, null)
      spans.pass = -1
      org.apache.spark.perfbench.BusDrain(sc)
      val heapMb = heap.takeMb()
      val traceRec: Map[String, Any] =
        if (traced) {
          sc.removeSparkListener(trace)
          spark.listenerManager.unregister(plans)
          trace.pass = -1; plans.pass = -1
          trace.take(k) + ("plans" -> plans.take(k))
        } else Map.empty
      // outside the timed region: output facts for the checks
      val (files, bytes) = dataFiles(outRoot.resolve(tag))
      val queries = outcome.toOption.map { case (rows, dfs) =>
        if (passes.isEmpty) dfs.filter(x => a.oracle.contains(x._1))
          .foreach { case (q, df) =>
            df.write.mode("overwrite").parquet(s"${a.work}/qres/$q") }
        rows
      }.getOrElse(Nil)
      Queries.purgeTempDirs()
      passes += Map("pass" -> k, "traced" -> traced, "wall_s" -> wall,
        "start_ms" -> start, "end_ms" -> end,
        "cpu_s" -> cpu.cpuSeconds(k), "heap_mb" -> heapMb,
        "out_dir" -> (if (configJson.isDefined) outRoot.resolve(tag).toString
                      else ""),
        "files" -> files, "bytes" -> bytes, "queries" -> queries,
        "error" -> outcome.failed.toOption.map(e =>
          s"${e.getClass.getName}: ${e.getMessage}").orNull) ++ traceRec
      k += 1
    }

    val setupSpan = Map("id" -> -1, "name" -> "setup.session",
      "start_ms" -> jvmStartMs, "end_ms" -> sessionEndMs, "parent" -> 0,
      "pass" -> -1)
    val result = Map(
      "workload" -> a.workload, "slots" -> a.cores,
      "setup" -> Map("session_s" -> (sessionEndMs - jvmStartMs) / 1000.0,
        "warmup_s" -> warmS.toSeq),
      "passes" -> passes.toSeq,
      "spans" -> (setupSpan +: spans.all),
      "oracle" -> a.oracle.map(q => q -> SparkEntry.oracleSql(q)).toMap)
    Files.writeString(Paths.get(a.out),
      Serialization.write(result)(DefaultFormats))
    spark.stop()
  }
}
