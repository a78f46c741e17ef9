package graft.perfbench

import java.io.File
import java.nio.file.{Files, Paths}

import scala.collection.mutable

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

import graft.operators.{Dedup, TextAnalysis}
import graft.recipe.{Benchmark, CsvSource, Recipe, Sinks}

/** One query's collected result, checked later against its oracle. */
final case class Output(query: String, schema: StructType, rows: Array[Row])

/** Per-iteration context: the tracer, the counts a traced iteration
  * records beside its spans, and where sinks may write. */
final class Ctx(val spark: SparkSession, val tracer: Tracer, val scratch: File) {
  val counts: mutable.Map[String, Double] = mutable.Map.empty.withDefaultValue(0.0)
  def traced: Boolean = tracer.enabled
  def span[A](name: String)(f: => A): A = tracer.span(name)(f)
}

trait Workload {
  def name: String
  /** The SparkEntry oracle each output is checked against. */
  def queries: Seq[String]
  /** DuckDB SQL of the independent answer for `query`. */
  def oracleSql(query: String): String = graft.SparkEntry.oracleSql(query)
  def iterate(c: Ctx): Seq[Output]
}

object Workload {
  def apply(name: String, inputs: File): Workload = name match {
    case "recipe_dag" => new RecipeDag(inputs)
    case "curation" => new CurationWorkload(inputs)
    case other => throw new IllegalArgumentException(s"unknown workload $other")
  }

  def collect(query: String, df: DataFrame): Output = Output(query, df.schema, df.collect())
}

/** [[Benchmark]] with a span around normalization, so a traced run can
  * split normalize time from aggregate time inside one
  * `getAggregatedData(Some(raw))` call instead of normalizing twice. */
final class TracedBenchmark(r: Recipe, spark: SparkSession, tracer: Tracer)
    extends Benchmark(r, spark) {
  override def getNormalizedData(df0: Option[DataFrame],
                                 inputs: Option[Seq[String]]): DataFrame =
    tracer.span("recipe.normalize")(super.getNormalizedData(df0, inputs))
}

/** The three-layer summary DAG of the corpus (summary_indicators.yml ->
  * indicators.yml -> indicators/X.yml -> raw/X.yml) over the fixture tree
  * `ReferenceCorpus.ensure` writes from the seeded key tables, with its
  * result written through all four sinks.
  *
  * The DAG is cut down to the branches listed in `branches`: the full DAG
  * takes about 26 s per warm iteration on four cores, too long for
  * repeated runs. The summary and indicators recipes are the corpus files
  * with only the other branches' config lines removed, and the expected
  * answer is q46's oracle restricted to the kept domains: every layer
  * groups by Domain, and the fft rows all carry a ratio (null-ratio
  * groups, as in the blackscholes branch, do depend on which other
  * branches are unioned). */
final class RecipeDag(val inputs: File) extends Workload {
  val name = "recipe_dag"
  val queries: Seq[String] = Seq("q46_corpus_summary_dag")
  private val branches = Map("fft" -> "FFT")
  private val recipeFile = "perfbench_summary.yml"

  override def oracleSql(query: String): String =
    s"SELECT * FROM (${super.oracleSql(query)}) WHERE Domain IN " +
      branches.values.toSeq.sorted.map(d => s"'$d'").mkString("(", ", ", ")")

  private val rootFile = new File(inputs, "corpus_root.txt")

  /** Fixture tree root, as [[prepare]] recorded it. */
  private lazy val root: String = new String(Files.readAllBytes(rootFile.toPath), "UTF-8").trim

  private def path = new File(root, recipeFile).getPath

  /** Writes the fixture tree from the seeded key tables (under
    * java.io.tmpdir, in a directory named after the tables directory,
    * which run.py names uniquely per input set), records where it is, and
    * adds the cut-down summary and indicators recipes to it. */
  def prepare(spark: SparkSession): Unit = {
    import graft.corpus.CorpusRecipes
    val tables = new File(inputs, s"keys-${inputs.getName}")
    val dir = graft.corpus.ReferenceCorpus.ensure(spark, tables.getPath)
    Files.writeString(rootFile.toPath, dir)
    val branch = "(\\s*- indicators/)(.*)\\.yml".r
    val indicators = CorpusRecipes.indicators.linesIterator.filter {
      case branch(_, name) => branches.contains(name)
      case _ => true
    }.mkString("\n")
    require(branches.keys.forall(b => indicators.contains(s"indicators/$b.yml")),
      "corpus indicators.yml no longer lists the benchmarked branches")
    val summary = CorpusRecipes.summaryIndicators
      .replace("config: indicators.yml", "config: perfbench_indicators.yml")
    require(summary.contains("perfbench_indicators.yml"), "summary recipe changed shape")
    Files.writeString(Paths.get(dir, "perfbench_indicators.yml"), indicators + "\n")
    Files.writeString(Paths.get(dir, recipeFile), summary)
  }

  /** Every recipe of the DAG, each once (children are shared by canonical
    * path, as the engine shares their evaluation). */
  private def dag(): Seq[Recipe] = {
    val seen = mutable.LinkedHashMap.empty[String, Recipe]
    def walk(p: String): Unit = {
      val canonical = new File(p).getCanonicalPath
      if (!seen.contains(canonical)) {
        val r = Recipe.load(p)
        seen(canonical) = r
        r.input.configs.foreach { c =>
          walk(if (new File(c).isAbsolute) c else new File(r.baseDir, c).getPath)
        }
      }
    }
    walk(path)
    seen.values.toSeq
  }

  /** The files the DAG's recipes read. */
  def inputFiles(spark: SparkSession): Seq[File] =
    dag().filter(_.input.paths.nonEmpty).flatMap { r =>
      CsvSource.expandGlobs(spark, r.input.paths, r.baseDir)
    }.filterNot(_.endsWith(".meta")).map(p => new File(p).getCanonicalFile).distinct

  def iterate(c: Ctx): Seq[Output] = {
    val spark = c.spark
    if (c.traced) {
      // traced only: force each leaf scan on its own, so its time and
      // its kept-row count are measured at the scan itself
      val nodes = c.span("recipe.load")(dag())
      c.counts("recipe.nodes") += nodes.size
      c.span("recipe.scan") {
        for (r <- nodes if r.input.paths.nonEmpty; f <- CsvSource.scanFiles(spark, r)) {
          val hashed = if (f.columns.isEmpty) lit(0L)
            else xxhash64(f.columns.map(n => col(s"`$n`")): _*)
          c.counts("recipe.scan_rows") += f.agg(count(lit(1)), bit_xor(hashed)).head().getLong(0)
        }
      }
    }
    val bench =
      if (c.traced) c.span("recipe.load")(new TracedBenchmark(Recipe.load(path), spark, c.tracer))
      else Benchmark(spark, path)
    try {
      val agg =
        if (c.traced) {
          val raw = c.span("recipe.raw")(bench.getRawData())
          c.span("recipe.aggregate")(bench.getAggregatedData(Some(raw)))
        } else bench.getAggregatedData()
      // every sink collects the frame: pin it once, as RecipeCli does
      val p = agg.persist()
      try {
        c.span("recipe.sinks")(writeSinks(c.scratch, p, bench.recipe))
        Seq(c.span("recipe.collect")(Workload.collect(queries.head,
          p.select(col("Domain"), col("Prefix"), col("Mode"), col("Arch"),
            round(col("Ratio"), 6).as("Ratio")))))
      } finally p.unpersist(false)
    } finally bench.unpersist()
  }

  private def writeSinks(dir: File, df: DataFrame, recipe: Recipe): Unit = {
    dir.mkdirs()
    val base = recipeFile.stripSuffix(".yml")
    def out(ext: String) = new File(dir, s"$base.$ext").getPath
    Sinks.writeCsv(df, out("csv"))
    Files.writeString(Paths.get(out("txt")), Sinks.pivotString(df, recipe))
    Sinks.writeHtml(df, recipe, out("html"), base)
    Sinks.writeXlsx(df, recipe, out("xlsx"))
  }
}

/** The q164 curation funnel over the seeded documents table, then
  * MinHash-LSH dedup clustering (q48) of the same table. */
final class CurationWorkload(inputs: File) extends Workload {
  val name = "curation"
  def queries: Seq[String] = Seq("q164_curation_funnel", "q48_dedup_clusters")

  private val docsPath = new File(inputs, "tables/documents.parquet").getPath
  // opened once, in the cold iteration, like a table a service keeps open
  private var docsFrame: Option[DataFrame] = None
  private def docs(spark: SparkSession): DataFrame = {
    if (docsFrame.isEmpty) docsFrame = Some(spark.read.parquet(docsPath))
    docsFrame.get
  }

  /** q164's salting: %20==7 docs become one shared compliant page, %20==13
    * docs gain a compliant paragraph, so every funnel stage has survivors. */
  private def salted(docs: DataFrame): DataFrame =
    docs.select(col("source"), col("doc_id"),
      when(col("doc_id") % 20 === 7, lit(graft.SparkEntry.curationDupDoc))
        .when(col("doc_id") % 20 === 13,
          concat(col("text"), lit("\n" + graft.SparkEntry.curationGoodPara)))
        .otherwise(col("text")).as("text"))

  private val stages: Seq[(String, String, Column)] = Seq(
    ("expressions.langid", "g", TextAnalysis.langIdScored(col("text"))),
    ("expressions.gopher_quality", "gk", TextAnalysis.gopherKeep(col("text"))),
    ("expressions.gopher_repetition", "rk", TextAnalysis.gopherRepetitionKeep(col("text"))),
    ("expressions.c4", "ck", TextAnalysis.c4PageKeep(TextAnalysis.c4LineClean(col("text")))),
    ("expressions.fingerprint", "fp", TextAnalysis.fingerprint(col("text"))))

  private def funnel(staged: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    staged
      .withColumn("s1", col("g.lang") === "en" && col("g.score") >= 0.5)
      .withColumn("s2", col("s1") && col("gk"))
      .withColumn("s3", col("s2") && col("rk"))
      .withColumn("s4", col("s3") && col("ck"))
      .withColumn("s5", col("s4") &&
        col("doc_id") === min(when(col("s4"), col("doc_id"))).over(Window.partitionBy("fp")))
      .groupBy("source").agg(
        count(lit(1)).as("n_docs"),
        sum(when(col("s1"), 1L).otherwise(0L)).as("n_lang"),
        sum(when(col("s2"), 1L).otherwise(0L)).as("n_quality"),
        sum(when(col("s3"), 1L).otherwise(0L)).as("n_repetition"),
        sum(when(col("s4"), 1L).otherwise(0L)).as("n_c4"),
        sum(when(col("s5"), 1L).otherwise(0L)).as("n_final"))
  }

  private def clusters(docs: DataFrame): DataFrame =
    Dedup.dedupClusters(docs, "doc_id", "text", threshold = 0.5, k = 12, bands = 4)

  def iterate(c: Ctx): Seq[Output] = {
    val docs = this.docs(c.spark)
    if (!c.traced) {
      val staged = salted(docs).select(
        Seq(col("source"), col("doc_id")) ++ stages.map { case (_, a, e) => e.as(a) }: _*)
      Seq(Workload.collect(queries(0), funnel(staged)),
        Workload.collect(queries(1), clusters(docs)))
    } else {
      // traced: each expression materializes its own cached column, so
      // its time is measured where it runs and nothing is computed twice
      var cur = salted(docs).persist()
      c.span("curation.read")(cur.count())
      for ((span, alias, e) <- stages) {
        val next = cur.withColumn(alias, e).persist()
        c.span(span)(next.count())
        cur.unpersist(false)
        cur = next
      }
      val funnelOut = try c.span("curation.funnel")(Workload.collect(queries(0), funnel(cur)))
        finally cur.unpersist(false)
      c.span("operators.dedup_candidates") {
        val cand = Dedup.minhashCandidates(docs, "doc_id", "text", k = 12, bands = 4).persist()
        try {
          c.counts("operators.dedup_candidate_pairs") += cand.count()
          c.counts("operators.dedup_pairs_kept") += cand.filter(col("jaccard") >= 0.5).count()
        } finally cand.unpersist(false)
      }
      val cl = c.span("operators.dedup_clusters")(Workload.collect(queries(1), clusters(docs)))
      val keepIdx = cl.schema.fieldIndex("keep")
      c.counts("operators.dedup_kept") += cl.rows.count(_.getBoolean(keepIdx))
      Seq(funnelOut, cl)
    }
  }
}
