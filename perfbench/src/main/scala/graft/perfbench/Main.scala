package graft.perfbench

import java.io.File
import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets
import java.nio.file.Files
import java.security.MessageDigest

import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.spark.sql.SparkSession

/** The JVM side of the benchmark; `run.py` drives it. Two modes:
  *
  *  - `prepare` (`recipe_dag` input sets): writes the fixture tree with
  *    `ReferenceCorpus.ensure` over the seeded tables, and the size of
  *    what the DAG's recipes read;
  *  - `run`, in a fresh process: one cold iteration (`setup_s` is the time
  *    from JVM start to its end), `--warmup` warm-up iterations, then a closed
  *    loop (one client, each iteration starting when the previous one
  *    ends) for `--seconds`, at least two iterations. With `--trace 1`
  *    the loop runs half untraced and half traced (at least one iteration
  *    each); the traced half records spans and Spark job counts for the
  *    per-layer metrics. Afterwards it writes the oracle SQL of the
  *    workload's queries.
  *
  * Every iteration's outputs are digested; each distinct output is
  * written once as parquet for run.py to check against its oracle.
  *
  * Usage: Main --mode run --workload recipe_dag --inputs DIR --out DIR
  *             --seconds 10 --warmup 3 --trace 0
  */
object Main {
  def main(args: Array[String]): Unit = {
    val opt = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def need(k: String) = opt.getOrElse(k, sys.error(s"missing --$k"))
    need("mode") match {
      case "prepare" => prepare(need("inputs").split(",").toSeq.map(d => new RecipeDag(new File(d))))
      case "run" =>
        val out = new File(need("out"))
        out.mkdirs()
        run(Workload(need("workload"), new File(need("inputs"))), out,
          need("seconds").toDouble, need("warmup").toInt, need("trace") == "1")
      case m => sys.error(s"unknown mode $m")
    }
  }

  /** Fixture trees of several `recipe_dag` input sets, in one session (a
    * fresh JVM per set would cost more than the trees). */
  private def prepare(sets: Seq[RecipeDag]): Unit = {
    val spark = session()
    try sets.foreach { r =>
      r.prepare(spark)
      val files = r.inputFiles(spark)
      write(new File(r.inputs, "input.json"), Map("bytes" -> files.map(_.length).sum))
    } finally spark.stop()
  }

  private def session(): SparkSession = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS",
      Runtime.getRuntime.availableProcessors.toString)
    val s = graft.GraftSession.builder(cpus).getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  private val mapper = new ObjectMapper().registerModule(DefaultScalaModule)

  /** Writes `value` (maps, sequences, strings, numbers) as JSON. */
  private def write(f: File, value: Any): Unit =
    Files.write(f.toPath, mapper.writeValueAsBytes(value))

  private def peakRssMb(): Double =
    Files.readAllLines(new File("/proc/self/status").toPath).asScala
      .find(_.startsWith("VmHWM:"))
      .map(_.replaceAll("[^0-9]", "").toDouble / 1024.0).getOrElse(-1.0)

  private def digest(o: Output): String = {
    val md = MessageDigest.getInstance("SHA-256")
    md.update(o.schema.simpleString.getBytes(StandardCharsets.UTF_8))
    o.rows.map(_.toString).sorted.foreach { r =>
      md.update(r.getBytes(StandardCharsets.UTF_8)); md.update('\n'.toByte)
    }
    md.digest().take(12).map("%02x".format(_)).mkString
  }

  final case class Iter(phase: String, index: Int, startMs: Long, endMs: Long, wallS: Double,
                        uptimeS: Double, gcMs: Long, digests: Map[String, String],
                        error: Option[String], counts: Map[String, Double])

  private def run(w: Workload, out: File, seconds: Double, warmup: Int, trace: Boolean): Unit = {
    val spark = session()
    System.err.println(f"[perfbench] session ready ${ManagementFactory.getRuntimeMXBean.getUptime / 1000.0}%.2fs after JVM start")
    val listener = new JobListener
    val tracer = new Tracer(enabled = true)
    val plain = new Tracer(enabled = false)
    val iters = mutable.ArrayBuffer.empty[Iter]
    val written = mutable.Map.empty[String, mutable.Set[String]]
    val scratch = new File(out, "sinks")

    def once(phase: String, traced: Boolean): Iter = {
      val t = if (traced) tracer else plain
      t.iteration = iters.size
      val ctx = new Ctx(spark, t, scratch)
      val gc0 = Trace.gcMillis()
      val startMs = System.currentTimeMillis()
      val t0 = System.nanoTime()
      val result = try Right(t.span("iteration")(w.iterate(ctx)))
        catch { case NonFatal(e) => Left(s"${e.getClass.getSimpleName}: ${e.getMessage}") }
      val wall = (System.nanoTime() - t0) / 1e9
      val endMs = System.currentTimeMillis()
      val uptime = ManagementFactory.getRuntimeMXBean.getUptime / 1000.0
      val gc = Trace.gcMillis() - gc0
      // untimed: digest, and keep each distinct output once for the check
      val digests = result.toOption.toSeq.flatten.map { o =>
        val d = digest(o)
        val seen = written.getOrElseUpdate(o.query, mutable.Set.empty)
        if (seen.add(d))
          spark.createDataFrame(o.rows.toList.asJava, o.schema).coalesce(1)
            .write.mode("overwrite").parquet(new File(out, s"outputs/${o.query}/$d").getPath)
        o.query -> d
      }.toMap
      val it = Iter(phase, iters.size, startMs, endMs, wall, uptime, gc, digests,
        result.left.toOption, ctx.counts.toMap)
      iters += it
      System.err.println(f"[perfbench] ${w.name} $phase%-7s #${it.index}%-3d ${wall}%.3fs" +
        it.error.map(e => s"  FAILED $e").getOrElse(""))
      it
    }

    val setupS = once("cold", traced = false).uptimeS
    // a fixed count, not a time: iterations keep getting faster for tens
    // of seconds, and a count puts every run at the same point of that
    // curve however fast the host runs it
    for (_ <- 1 to warmup) once("warm", traced = false)

    def loop(phase: String, budget: Double, traced: Boolean, minIters: Int): Seq[Iter] = {
      val t0 = System.nanoTime()
      val got = mutable.ArrayBuffer.empty[Iter]
      while (got.size < minIters || (System.nanoTime() - t0) / 1e9 < budget)
        got += once(phase, traced)
      got.toSeq
    }
    var overhead: Map[String, Double] = Map.empty
    if (!trace) loop("timed", seconds, traced = false, minIters = 2)
    else {
      val untraced = loop("untraced", seconds / 2, traced = false, minIters = 1)
      spark.sparkContext.addSparkListener(listener)
      val traced = loop("traced", seconds / 2, traced = true, minIters = 1)
      spark.sparkContext.removeSparkListener(listener)
      val mu = median(untraced.map(_.wallS))
      val mt = median(traced.map(_.wallS))
      overhead = Map("trace.overhead_s" -> (mt - mu), "trace.overhead_frac" -> (mt - mu) / mu)
    }
    val cores = spark.sparkContext.defaultParallelism
    write(new File(out, "oracle_sql.json"), w.queries.map(q => q -> w.oracleSql(q)).toMap)
    // the recipe scan ratios count text lines of the files the recipes read
    val scanFiles = w match {
      case r: RecipeDag if trace => r.inputFiles(spark)
      case _ => Nil
    }
    // stop() drains the listener bus, so every job event has arrived
    spark.stop()

    val result = mutable.LinkedHashMap[String, Any](
      "workload" -> w.name,
      "setup_s" -> setupS,
      "peak_rss_mb" -> peakRssMb(),
      "cores" -> cores,
      "jvm_flags" -> ManagementFactory.getRuntimeMXBean.getInputArguments.asScala.toSeq,
      "iterations" -> iters.map(i => Map("phase" -> i.phase, "wall_s" -> i.wallS,
        "digests" -> i.digests, "error" -> i.error.orNull)).toSeq)
    if (trace) {
      val traced = iters.filter(_.phase == "traced").toSeq
      val layers = perLayer(traced, tracer, listener.records, cores, scanFiles)
      result("per_layer") = layers ++ overhead
      write(new File(out, "spans.json"), spanRecords(tracer, listener.records, traced))
    }
    write(new File(out, "result.json"), result)
  }

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) Double.NaN
    else if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  /** Per-layer metrics: each is computed per traced iteration, then the
    * median over iterations is reported. */
  private def perLayer(traced: Seq[Iter], tracer: Tracer, jobs: Seq[JobRecord],
                       cores: Int, scanFiles: Seq[File]): Map[String, Double] = {
    val self = tracer.selfNanos
    val scanLines = scanFiles.map(f => Files.lines(f.toPath).count()).sum.toDouble
    val scanMb = scanFiles.map(_.length).sum / 1e6
    val perIter = traced.map { it =>
      val js = jobs.filter(j => j.startMs >= it.startMs && j.startMs <= it.endMs)
      val spans = tracer.spans.filter(_.iteration == it.index)
      def dur(name: String) = spans.filter(_.name == name).map(_.nanos).sum / 1e9
      def selfOf(name: String) = spans.filter(_.name == name).map(s => self(s.id)).sum / 1e9
      val busy = js.map(_.busyMs).sum / 1000.0
      val nodes = it.counts.getOrElse("recipe.nodes", 0.0)
      val cand = it.counts.getOrElse("operators.dedup_candidate_pairs", 0.0)
      val isRecipe = nodes > 0
      Map(
        "session.jobs" -> js.size.toDouble,
        "session.stages" -> js.map(_.stages).sum.toDouble,
        "session.tasks" -> js.map(_.tasks).sum.toDouble,
        "session.task_busy_s" -> busy,
        "session.core_util" -> busy / (it.wallS * cores),
        "session.no_job_s" -> Trace.noJobMillis(js, it.startMs, it.endMs) / 1000.0,
        "session.gc_s" -> it.gcMs / 1000.0,
        "session.shuffle_write_mb" -> js.map(_.shuffleWriteBytes).sum / 1e6,
        "session.spill_mb" -> js.map(_.spillBytes).sum / 1e6,
        "session.task_retries" -> js.map(_.retries).sum.toDouble,
        "recipe.load_s" -> dur("recipe.load"),
        "recipe.nodes" -> nodes,
        "recipe.jobs_per_node" -> (if (isRecipe) js.size / nodes else 0.0),
        "recipe.raw_s" -> dur("recipe.raw"),
        "recipe.normalize_s" -> dur("recipe.normalize"),
        "recipe.aggregate_s" -> selfOf("recipe.aggregate"),
        "recipe.scan_s" -> dur("recipe.scan"),
        "recipe.scan_mb" -> (if (isRecipe) scanMb else 0.0),
        "recipe.scan_lines_kept_ratio" ->
          (if (isRecipe && scanLines > 0) it.counts.getOrElse("recipe.scan_rows", 0.0) / scanLines
           else 0.0),
        "recipe.sinks_s" -> dur("recipe.sinks"),
        "expressions.langid_s" -> dur("expressions.langid"),
        "expressions.gopher_quality_s" -> dur("expressions.gopher_quality"),
        "expressions.gopher_repetition_s" -> dur("expressions.gopher_repetition"),
        "expressions.c4_s" -> dur("expressions.c4"),
        "expressions.fingerprint_s" -> dur("expressions.fingerprint"),
        "operators.dedup_clusters_s" -> dur("operators.dedup_clusters"),
        "operators.dedup_candidate_pairs" -> cand,
        "operators.dedup_pair_yield" ->
          (if (cand > 0) it.counts.getOrElse("operators.dedup_pairs_kept", 0.0) / cand else 0.0),
        "operators.dedup_kept" -> it.counts.getOrElse("operators.dedup_kept", 0.0),
        "trace.spans" -> spans.size.toDouble)
    }
    perIter.flatMap(_.keys).distinct.map(k => k -> median(perIter.map(_(k)))).toMap
  }

  /** Every span of the traced iterations with its self time and the Spark
    * jobs credited to it (the innermost span open when each job started). */
  private def spanRecords(tracer: Tracer, jobs: Seq[JobRecord], traced: Seq[Iter]): Seq[Map[String, Any]] = {
    val self = tracer.selfNanos
    val credited = mutable.Map.empty[Int, mutable.ArrayBuffer[JobRecord]]
    for (it <- traced) {
      val spans = tracer.spans.filter(_.iteration == it.index)
      for (j <- jobs if j.startMs >= it.startMs && j.startMs <= it.endMs;
           s <- Trace.openAt(spans, j.startMs))
        credited.getOrElseUpdate(s.id, mutable.ArrayBuffer.empty) += j
    }
    tracer.spans.sortBy(_.id).map { s =>
      val js = credited.getOrElse(s.id, mutable.ArrayBuffer.empty)
      Map("id" -> s.id, "name" -> s.name, "parent" -> s.parent, "iteration" -> s.iteration,
        "start_ms" -> s.startMs, "end_ms" -> s.endMs, "dur_s" -> s.nanos / 1e9,
        "self_s" -> self(s.id) / 1e9, "jobs" -> js.size, "tasks" -> js.map(_.tasks).sum,
        "task_busy_s" -> js.map(_.busyMs).sum / 1000.0)
    }
  }
}
