package perfbench

import graft.SparkEntry
import graft.operators.{Cohort, Decontam, Dedup, Similarity, Splits, Stress, TextAnalysis, TopN}
import graft.sources.Tables
import org.apache.spark.sql.{Column, DataFrame, Observation, SparkSession}
import org.apache.spark.sql.functions._

import java.io.{File, PrintWriter}
import scala.collection.mutable

/** Benchmark program: one workload, one closed-loop client on `local[4]`.
  *
  * Usage: `perfbench.Main --workload <name> --seed <n> --seconds <s>
  * --trace <0|1> --data <dir> --warm-data <dir> --work <dir> --out <file>`
  *
  * Set-up (session start, input load and amplification, warm-up) is
  * timed separately from the measured loop, which repeats the workload's
  * operation until `--seconds` have passed and always finishes whole
  * passes or sweeps. Every operation's output goes through [[sink]], an
  * order-insensitive fingerprint taken while writing to the `noop` sink,
  * and is checked against a reference. With `--trace 1` a [[Tracer]]
  * records one root span per pass and derives the per-layer metrics. The
  * result is one JSON object written to `--out`; `run.py` turns it into
  * the benchmark's metrics.
  */
object Main {
  val Stride = 1000000L
  val TextCopies = 3
  val TextHotCopies = 90
  val SemCopies = 4

  final case class Op(kind: String, name: String, sec: Double, ok: Boolean)

  final case class Stage(name: String, prefix: Boolean, f: DataFrame => DataFrame)

  def main(argv: Array[String]): Unit = {
    val args = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = args("workload")
    val seed = args("seed").toLong
    val seconds = args("seconds").toDouble
    val traced = args("trace") == "1"
    val data = args("data")
    val work = args("work")

    val t0 = System.nanoTime()
    val spark = session(work)
    val sessionS = (System.nanoTime() - t0) / 1e9
    val bench = new Bench(spark, workload, seed, seconds, traced, data, args("warm-data"), work)
    val result =
      try bench.run(sessionS)
      finally spark.stop()
    val w = new PrintWriter(new File(args("out")), "UTF-8")
    try w.println(Json.render(result)) finally w.close()
  }

  def session(work: String): SparkSession = {
    val spark = SparkSession.builder()
      .master("local[4]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.ansi.enabled", "false")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", new File(s"$work/warehouse").getAbsolutePath)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  private def quoted(c: String): Column = col("`" + c.replace("`", "``") + "`")

  /** Materialize every column of every row of `df` (to `noop`, or to
    * parquet at `path`) and return (row count, wrapping sum of per-row
    * xxhash64 over the columns in name order): a fingerprint that does
    * not depend on row order or partitioning. */
  def sink(df: DataFrame, path: Option[String] = None): (Long, Long) = {
    val obs = Observation()
    val cols = df.columns.sorted.map(quoted)
    val observed = df.observe(obs, count(lit(1)).as("n"), sum(xxhash64(cols.toIndexedSeq: _*)).as("h"))
    path match {
      case Some(p) => observed.write.mode("overwrite").parquet(p)
      case None => observed.write.format("noop").mode("overwrite").save()
    }
    val r = obs.get
    (r("n").asInstanceOf[Long], Option(r("h")).map(_.asInstanceOf[Long]).getOrElse(0L))
  }

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) 0.0
    else if (s.size % 2 == 1) s(s.size / 2)
    else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }
}

final class Bench(spark: SparkSession, workload: String, seed: Long, seconds: Double,
    traced: Boolean, data: String, warmData: String, work: String) {
  import Main._

  private val rnd = new java.util.Random(seed)
  private val ops = mutable.ArrayBuffer.empty[Op]
  private val checks = mutable.ArrayBuffer.empty[String]
  private var tracer: Option[Tracer] = None
  private def table(name: String): DataFrame = spark.read.parquet(s"$data/$name.parquet")
  private def secSince(t0: Long): Double = (System.nanoTime() - t0) / 1e9
  private def timed[T](body: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = body
    (r, secSince(t0))
  }
  private def fail(msg: String): Unit = checks += msg

  /** Run `tasks` on `threads` threads and wait for all of them. Only the
    * untimed warm-up uses this. */
  private def parallel(threads: Int)(tasks: (() => Unit)*): Unit = {
    val pool = java.util.concurrent.Executors.newFixedThreadPool(threads)
    try tasks.map(t => pool.submit(new java.util.concurrent.Callable[Unit] { def call(): Unit = t() }))
      .foreach(_.get())
    finally pool.shutdown()
  }

  def run(sessionS: Double): Map[String, Any] = {
    val w: Workload = workload match {
      case "curation" => new Curation
      case "analyst_queries" => new AnalystQueries
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }
    // input load and amplification, repeated; the median counts
    val prepareS = (1 to 3).map(_ => timed(w.prepare())._2)
    val (_, warmS) = timed(w.warmUp())
    if (traced) tracer = Some(new Tracer(spark))
    val loopStart = System.nanoTime()
    val passS = mutable.ArrayBuffer.empty[Double]
    while (ops.isEmpty || secSince(loopStart) < seconds) {
      // every pass starts from the same state: nothing cached, heap collected
      spark.catalog.clearCache()
      System.gc()
      passS += timed {
        try w.measure()
        catch {
          case e: Exception =>
            fail(s"pass ${passS.size + 1}: $e")
            ops += Op("pass", workload, 0.0, ok = false)
        }
      }._2
    }
    val wallMs = (passS.sum * 1000).toLong
    val measuredS = secSince(loopStart)
    val layers = tracer.map(tr => w.layers(tr) ++ globalLayers(tr, wallMs)).getOrElse(Map.empty)
    tracer.foreach { tr =>
      if (!tr.consistent) fail("listener per-group sums differ from its totals")
      val p = s"$work/trace.json"
      val pw = new PrintWriter(new File(p), "UTF-8")
      try pw.println(Json.render(tr.toJson)) finally pw.close()
    }
    Map(
      "workload" -> workload, "seed" -> seed, "trace" -> traced,
      "jvm_heap_mb" -> Runtime.getRuntime.maxMemory / 1048576L,
      "cores" -> 4, "input_rows" -> w.inputRows,
      "setup" -> Map("session_s" -> sessionS, "prepare_s" -> prepareS,
        "warmup_s" -> warmS,
        "setup_s" -> (sessionS + median(prepareS) + warmS)),
      "measured_s" -> measuredS,
      "pass_s" -> passS.toSeq,
      "ops" -> ops.map(o => Map("kind" -> o.kind, "name" -> o.name, "sec" -> o.sec, "ok" -> o.ok)),
      "checks" -> checks.toSeq,
      "extra" -> w.extra,
      "layers" -> layers)
  }

  /** Layer metrics every workload reports, per measured operation. */
  private def globalLayers(tr: Tracer, wallMs: Long): Map[String, Double] = {
    val t = tr.total
    val n = ops.size.max(1).toDouble
    Map(
      "scheduler.jobs" -> t.jobs / n,
      "scheduler.stages" -> t.stages / n,
      "scheduler.tasks" -> t.tasks / n,
      "scheduler.task_success_ratio" -> (if (t.tasks == 0) 1.0 else t.tasksOk.toDouble / t.tasks),
      "executor.run_s" -> t.runMs / 1000.0 / n,
      "executor.gc_s" -> t.gcMs / 1000.0 / n,
      "shuffle.write_mb" -> t.shuffleWriteB / 1e6 / n,
      "shuffle.read_mb" -> t.shuffleReadB / 1e6 / n,
      "memory.spill_mb" -> t.spillB / 1e6 / n,
      "busy_cores" -> (if (wallMs == 0) 0.0 else t.runMs.toDouble / wallMs),
      "trace_overhead" -> tr.overhead(wallMs))
  }

  /** Per-op plan / driver / exec split and job and task counts of the
    * given root-level spans (one per operation). */
  private def opLayers(tr: Tracer, opSpans: Seq[Span]): Map[String, Double] = {
    val per = opSpans.map { s =>
      val c = tr.inclusive(s)
      val busy = c.busyMs(s.startMs, s.endMs) / 1000.0
      (c.planMs / 1000.0, s.sec - busy, busy, c.jobs.toDouble, c.tasks.toDouble)
    }
    val n = per.size.max(1).toDouble
    Map(
      "plan.s" -> median(per.map(_._1)),
      "driver.s" -> median(per.map(_._2)),
      "exec.s" -> median(per.map(_._3)),
      "jobs_per_op" -> per.map(_._4).sum / n,
      "tasks_per_op" -> per.map(_._5).sum / n)
  }

  private var storageMb = 0.0
  private def noteStorage(): Unit = tracer.foreach(tr => storageMb = storageMb max tr.cachedMb)

  trait Workload {
    def inputRows: Long
    def prepare(): Unit
    def warmUp(): Unit
    /** One measured pass (curation) or sweep (analyst queries). */
    def measure(): Unit
    def layers(tr: Tracer): Map[String, Double]
    def extra: Map[String, Any] = Map.empty
  }

  /** Text curation and semantic curation, one pass of each per operation.
    *
    * Untraced, a pipeline's stages are chained and its output sunk once.
    * Traced, each stage call is its own span, and the output of every
    * stage with `prefix` is materialized in a `<stage>.prefix` span, so a
    * stage's self time is its call plus its prefix minus the previous
    * prefix of the same pipeline. */
  final class Curation extends Workload {
    private val Prefix = ".prefix"
    private val k = 64
    private val residue = rnd.nextInt(10)
    private var docs: DataFrame = _
    private var hotId = 0L
    private var textIn: DataFrame = _
    private var semIn: DataFrame = _
    private var expected: Option[Out] = None
    private val dedupJobs = mutable.ArrayBuffer.empty[Long]
    private val textS = mutable.ArrayBuffer.empty[Double]
    private val semS = mutable.ArrayBuffer.empty[Double]
    var inputRows = 0L
    private var textRows, semRows = 0L

    /** Fingerprints of both pipelines' outputs and of the k-means model. */
    final case class Out(text: (Long, Long), semantic: (Long, Long), model: Int)

    /** Holds the model `kmeansTrain` returns for `kmeansAssign` in the same
      * pass. */
    final class ModelBox {
      var centroids: Seq[Seq[Float]] = Nil
      def hash: Int = centroids.flatten.map(java.lang.Float.floatToIntBits).hashCode()
    }

    private val text = Seq(
      Stage("Dedup.dedupNearMinHash", prefix = true, d =>
        Dedup.dedupNearMinHash(d, "doc_id", "text", threshold = 0.9,
          shingleK = 1, numHashes = 16, bands = 4, transitive = true)),
      Stage("Decontam.decontaminate", prefix = true, d =>
        Decontam.decontaminate(d, docs.filter(col("doc_id") % 10 === residue), "doc_id", "text", n = 4)),
      Stage("TextAnalysis.qualityScore", prefix = true, d =>
        TextAnalysis.qualityScore(d, "text").filter(col("quality") >= 0.5)),
      Stage("Splits.hashSplit", prefix = true, d =>
        Splits.hashSplit(d, "doc_id", Seq("train" -> 0.8, "val" -> 0.1), defaultLabel = "test")),
      Stage("Splits.packSequences", prefix = true, d =>
        Splits.packSequences(d, "doc_id", "text", "split", blockTokens = 512)))

    private def semantic(model: ModelBox) = Seq(
      Stage("Dedup.semDeDup", prefix = true, d =>
        Dedup.semDeDup(d, "vec_id", "embedding", k = k, rounds = 2, threshold = 0.99)),
      Stage("Similarity.kmeansTrain", prefix = false, d => {
        model.centroids = Similarity.kmeansTrain(d, "vec_id", "embedding", k = k)
        d
      }),
      Stage("Similarity.kmeansAssign", prefix = true, d =>
        Similarity.kmeansAssign(d, "embedding", model.centroids)),
      Stage("TopN.firstRow", prefix = true, d =>
        TopN.firstRow(d.withColumn("__bk", Splits.hashBucket(col("vec_id"))), n = 16,
          partitionBy = Seq(col("cluster")), orderBy = Seq(col("__bk").asc, col("vec_id").asc))))

    /** The training side of the holdout split: the holdout residue's
      * documents are the decontamination test set. */
    private def train(d: DataFrame): DataFrame = d.filter(col("doc_id") % 10 =!= residue)

    private def runPipeline(name: String, stages: Seq[Stage], input: DataFrame): (Long, Long) =
      tracer match {
        case None => sink(stages.foldLeft(input)((d, s) => s.f(d)))
        case Some(tr) =>
          tr.span(name) {
            var d = input
            var out = (0L, 0L)
            stages.foreach { s =>
              d = tr.span(s.name)(s.f(d))
              if (s.prefix) out = tr.span(s.name + Prefix)(sink(d))
            }
            out
          }
      }

    private def semanticPass(in: DataFrame, model: ModelBox): (Long, Long) =
      runPipeline("semantic", semantic(model), in)

    /** Copies of the documents (plus the hot block) and of the vectors,
      * each truncated to a local checkpoint. One copy is the base input
      * itself, with the same plan shape as the amplified one, so the
      * warm-up compiles the code the measured passes run. */
    private def amplify(textCopies: Int, hotCopies: Int, semCopies: Int): (DataFrame, DataFrame) = (
      train(Stress.selfUnionSkewed(docs, "doc_id", textCopies, Stride, hotId = hotId,
        hotCopies = hotCopies).localCheckpoint()),
      Stress.selfUnionSkewed(table("embeddings").select("vec_id", "embedding"),
        "vec_id", semCopies, Stride).localCheckpoint())

    private var baseIn, warmIn: (DataFrame, DataFrame) = _

    def prepare(): Unit = {
      docs = table("documents").select("doc_id", "text")
      // the hot document must stay on the training side of the holdout
      val ids = train(docs).select("doc_id").orderBy("doc_id").collect().map(_.getLong(0))
      hotId = ids(rnd.nextInt(ids.length))
      baseIn = amplify(1, 0, 1)
      warmIn = amplify(2, TextHotCopies, 2)
      val amplified = amplify(TextCopies, TextHotCopies, SemCopies)
      textIn = amplified._1
      semIn = amplified._2
      textRows = textIn.count()
      semRows = semIn.count()
      inputRows = textRows + semRows
    }

    /** The warm-up runs both pipelines on the base inputs and on 2x
      * amplified ones, all four at once. The base pass sets the expected
      * output: copy 0 of an amplified input keeps the base ids and every
      * other copy is an exact duplicate that dedup removes, so a pass over
      * any amplification must return exactly the base inputs' results. */
    def warmUp(): Unit = {
      val (baseModel, warmModel) = (new ModelBox, new ModelBox)
      var t, s, wt, ws = (0L, 0L)
      parallel(4)(
        () => t = runPipeline("text", text, baseIn._1),
        () => s = semanticPass(baseIn._2, baseModel),
        () => wt = runPipeline("text", text, warmIn._1),
        () => ws = semanticPass(warmIn._2, warmModel))
      val base = Out(t, s, baseModel.hash)
      if (Out(wt, ws, warmModel.hash) != base)
        fail(s"the 2x warm-up pass gave ${Out(wt, ws, warmModel.hash)}, the base inputs $base")
      expected = Some(base)
    }

    def measure(): Unit = {
      val model = new ModelBox
      val (out, sec) = timed {
        def run = {
          val (t, ts) = timed(runPipeline("text", text, textIn))
          val (s, ss) = timed(semanticPass(semIn, model))
          textS += ts
          semS += ss
          Out(t, s, model.hash)
        }
        tracer.map(_.span("pass") { val o = run; noteStorage(); o }).getOrElse(run)
      }
      val problems = mutable.ArrayBuffer.empty[String]
      val exp = expected.get
      if (out.text != exp.text) problems += s"text output ${out.text}, base corpus gives ${exp.text}"
      if (out.semantic != exp.semantic || out.model != exp.model)
        problems += s"semantic output ${out.semantic} model ${out.model}, " +
          s"base vectors give ${exp.semantic} model ${exp.model}"
      val cs = model.centroids
      if (cs.size != k || cs.exists(c => c.size != 64 || c.exists(x => x.isNaN || x.isInfinite)))
        problems += s"model is not $k finite 64-d centroids"
      problems.foreach(p => fail(s"curation pass ${ops.size + 1}: $p"))
      tracer.foreach { tr =>
        val textSpan = tr.children(tr.roots.last).find(_.name == "text")
        dedupJobs += textSpan.toSeq.flatMap(tr.children).find(_.name == "Dedup.dedupNearMinHash")
          .map(tr.own(_).jobs).getOrElse(0L)
      }
      ops += Op("pass", "curation", sec, problems.isEmpty)
    }

    def layers(tr: Tracer): Map[String, Double] = {
      // no pass may reuse a cache the previous pass left behind: each must
      // run the dedup call's full job count. A pass that reused the loser
      // set runs 2 jobs, while a clean pass's count can vary by a job or
      // two (52 or 53 on one input), hence the 90% floor.
      if (dedupJobs.nonEmpty && dedupJobs.min < 0.9 * dedupJobs.max)
        fail(s"a pass ran fewer dedup jobs than the others: ${dedupJobs.mkString(",")}")
      val roots = tr.roots.filter(_.name == "pass")
      // per pass: stage -> (self seconds, counters attributed to the stage)
      val perPass = roots.map { root =>
        tr.children(root).flatMap { pipeline =>
          val spans = tr.children(pipeline)
          var prevS = 0.0
          var prev = new Counters
          spans.filterNot(_.name.endsWith(Prefix)).map { call =>
            val c = new Counters
            c += tr.own(call)
            var s = call.sec
            spans.find(_.name == call.name + Prefix).foreach { p =>
              val pc = tr.own(p)
              c += pc
              s += p.sec - prevS
              c.jobs -= prev.jobs; c.runMs -= prev.runMs
              c.shuffleWriteB -= prev.shuffleWriteB; c.spillB -= prev.spillB
              prevS = p.sec
              prev = pc
            }
            call.name -> ((s.max(0.0), c))
          }
        }.toMap
      }
      def med(stage: String, f: ((Double, Counters)) => Double): Double =
        median(perPass.flatMap(_.get(stage)).map(f))
      val perStage = (text ++ semantic(new ModelBox)).map(_.name).flatMap { n =>
        Seq(
          s"$n.s" -> med(n, _._1),
          s"$n.jobs" -> med(n, _._2.jobs.max(0L).toDouble),
          s"$n.shuffle_mb" -> med(n, _._2.shuffleWriteB.max(0L) / 1e6),
          s"$n.spill_mb" -> med(n, _._2.spillB.max(0L) / 1e6),
          s"$n.busy_cores" -> med(n, x => if (x._1 <= 0) 0.0 else x._2.runMs.max(0L) / 1000.0 / x._1))
      }.toMap
      perStage ++ opLayers(tr, roots) + ("storage.cached_mb" -> storageMb)
    }

    override def extra: Map[String, Any] = Map(
      "text_copies" -> TextCopies, "hot_copies" -> TextHotCopies, "hot_id" -> hotId,
      "holdout_residue" -> residue, "semantic_copies" -> SemCopies, "k" -> k,
      "text_rows" -> textRows, "semantic_rows" -> semRows,
      "text_pass_s" -> textS.toSeq, "semantic_pass_s" -> semS.toSeq,
      "expected" -> expected.map(e => Seq(e.text._1, e.text._2, e.semantic._1, e.semantic._2, e.model)),
      "dedup_jobs_per_pass" -> dedupJobs.toSeq)
  }

  final class AnalystQueries extends Workload {
    val names: Seq[String] = Seq(
      "q_inclusion", "q_flowchart", "q_archive_latest", "q_archive_versions",
      "q_archive_retention", "q_standardise_deaths", "q_clean_names", "q_map_values",
      "q_round_counts", "q_redact_null", "q_redact_string", "q_first_row",
      "q_first_rank", "q_first_dense_rank", "q_top_global", "q_date_dsl",
      "q_upsert_archive", "q_sessionize", "q_asof_join", "q_pagerank",
      "q_url_parse", "q_profile", "q_spearman")
    private val WriteStep = "write_step"
    private val updateResidue = rnd.nextInt(7)
    private val reference = mutable.Map.empty[String, (Long, Long)]
    private val dirJson = new File(s"$work/table_directory.json").getAbsolutePath
    var inputRows = 0L

    def prepare(): Unit = {
      spark.sql("CREATE DATABASE IF NOT EXISTS bench")
      val pw = new PrintWriter(new File(dirJson), "UTF-8")
      try pw.println(Json.render(Map(
        "cohort" -> Map("database" -> "bench", "table_name" -> "cohort"),
        "cohort_latest" -> Map("database" -> "bench", "table_name" -> "cohort_latest"),
        "cohort_latest_view" -> Map("database" -> "bench", "table_name" -> "cohort_latest",
          "archive_date" -> "latest"))))
      finally pw.close()
      inputRows = Seq("orders", "lineitem", "customer", "supplier", "events", "documents")
        .map(t => table(t).count()).sum
    }

    private def orders = table("orders")

    /** The catalog write step: save a cohort, upsert an update batch into
      * it, write the result back, and load the latest archive version. */
    private def writeStep(tr: Option[Tracer], path: Option[String]): (Long, Long) = {
      def span[T](name: String)(body: => T): T = tr.map(_.span(name)(body)).getOrElse(body)
      val cohort = Cohort
        .applyInclusionCriteria(orders,
          Seq("status_ok" -> "o_orderstatus IN ('O', 'F')", "price_ok" -> "o_totalprice > 50000"),
          rowIdCol = "o_orderkey", personIdCol = "o_custkey")
        .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"),
          lit("2024-01-01").cast("date").as("archived_on"))
      val updates = orders
        .filter(col("o_orderkey") % 7 === updateResidue)
        .select(col("o_orderkey"), col("o_custkey"), (col("o_totalprice") * 2).as("o_totalprice"),
          lit("2024-02-01").cast("date").as("archived_on"))
      span("Tables.saveTable")(Tables.saveTable(cohort, "cohort", dirJson))
      val existing = span("Tables.loadTable")(Tables.loadTable(spark, "cohort", dirJson))
      val upserted = span("Tables.upsertArchive")(
        Tables.upsertArchive(existing, updates, Seq("o_orderkey"), "archived_on"))
      tr.foreach(t => t.span("Tables.upsertArchive.prefix")(sink(upserted)))
      span("Tables.saveTable")(Tables.saveTable(upserted, "cohort_latest", dirJson))
      val back = span("Tables.loadTable")(Tables.loadTable(spark, "cohort_latest_view", dirJson))
      span("Tables.loadTable.sink")(sink(back, path))
    }

    /** Run one operation over `dir`, writing its result under `results`
      * (or to `noop` when None). */
    private def runOp(name: String, dir: String, results: Option[String]): (Long, Long) = {
      val tr = tracer
      val path = results.map(r => s"$r/$name")
      def body = if (name == WriteStep) writeStep(tr, path)
        else sink(SparkEntry.queries(name)(spark, dir), path)
      tr.map(_.span(s"query.$name")(body)).getOrElse(body)
    }

    /** Every operation once over the small warm-up tables, the queries
      * from four threads. A failure in the warm-up shows again, counted, in the
      * measured sweep. */
    def warmUp(): Unit = {
      parallel(4)(names.map(n => () => { scala.util.Try(runOp(n, warmData, None)); () }): _*)
      scala.util.Try(runOp(WriteStep, warmData, None))
    }

    /** A sweep writes every result, as an analyst keeps them; `run.py`
      * checks the files against DuckDB, and every later sweep must give
      * the first sweep's fingerprints. */
    def measure(): Unit = {
      val order = new scala.util.Random(rnd).shuffle(names :+ WriteStep)
      def sweep(): Unit = order.foreach { n =>
        val t0 = System.nanoTime()
        val r = scala.util.Try(runOp(n, data, Some(s"$work/results")))
        val sec = secSince(t0)
        r.foreach(fp => reference.getOrElseUpdate(n, fp))
        val ok = r.toOption.exists(reference.get(n).contains)
        if (!ok) fail(s"$n: ${r.fold(e => e.toString, o => s"$o, first sweep gave ${reference(n)}")}")
        ops += Op(if (n == WriteStep) "write" else "query", n, sec, ok)
      }
      tracer match {
        case Some(tr) => tr.span("sweep") { sweep(); noteStorage() }
        case None => sweep()
      }
    }

    def layers(tr: Tracer): Map[String, Double] = {
      val sweeps = tr.roots.filter(_.name == "sweep")
      val opSpans = sweeps.flatMap(tr.children)
      val queries = opSpans.filterNot(_.name == s"query.$WriteStep")
      val writes = opSpans.filter(_.name == s"query.$WriteStep")
      def perWrite(f: Seq[Span] => Double): Double = median(writes.map(w => f(tr.children(w))))
      def named(n: String)(cs: Seq[Span]) = cs.filter(_.name == n)
      val perQuery = names.map(n => s"query.$n.s" -> median(opSpans.filter(_.name == s"query.$n").map(_.sec)))
      perQuery.toMap ++ opLayers(tr, queries) ++ Map(
        "Tables.saveTable.s" -> perWrite { cs =>
          // the second save recomputes the upsert its prefix materialized
          named("Tables.saveTable")(cs).map(_.sec).sum -
            named("Tables.upsertArchive.prefix")(cs).map(_.sec).sum
        },
        "Tables.upsertArchive.s" -> perWrite(cs =>
          (named("Tables.upsertArchive")(cs) ++ named("Tables.upsertArchive.prefix")(cs)).map(_.sec).sum),
        "Tables.loadTable.s" -> perWrite(cs =>
          (named("Tables.loadTable")(cs) ++ named("Tables.loadTable.sink")(cs)).map(_.sec).sum),
        "sources.write_mb" -> perWrite(cs => cs.map(c => tr.inclusive(c).outputB).sum / 1e6),
        "storage.cached_mb" -> storageMb)
    }

    override def extra: Map[String, Any] = Map(
      "queries" -> names, "update_residue" -> updateResidue,
      "oracle_sql" -> names.map(n => n -> SparkEntry.oracleSql(n)).toMap,
      "reference" -> reference.map { case (k, v) => k -> Seq(v._1, v._2) }.toMap)
  }
}
