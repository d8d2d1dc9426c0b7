package perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.json4s._

import graft.pipeline.{IncrementalState, Pipeline, RunConfig, Summary, TierCommit}
import graft.silver.Silver
import graft.sources.{BcbSource, CsvDialect, FixtureFetcher, IbgeSource, JsonFetcher}

/** etl_full and etl_incremental: one unit is one `Pipeline.run` with a
  * state file, into its own pipeline root.
  *
  *  - etl_full loads the generated base period into a fresh root.
  *  - etl_incremental loads the base period once while setting up, then
  *    each unit starts from a copy of that root and loads one more month
  *    (one new ANP file, BCB payloads one month longer).
  *
  * Every unit's outputs are checked against the generator's model before
  * the next unit starts. */
final class EtlWorkload(spark: SparkSession, cfg: JValue) {
  import EtlWorkload.Inputs
  import Main.formats

  private val work = Paths.get((cfg \ "work").extract[String])
  private val seconds = (cfg \ "seconds").extract[Double]
  private val trace = (cfg \ "trace").extract[Boolean]
  private val incremental = (cfg \ "workload").extract[String] == "etl_incremental"
  private val seriesCsv = (cfg \ "etl" \ "series_csv").extract[String]

  private def inputs(k: String): Inputs = {
    val j = cfg \ "etl" \ k
    Inputs((j \ "dir").extract[String], (j \ "start").extract[String],
      (j \ "end").extract[String], j \ "model")
  }
  private val base = inputs("base")
  private val loaded = if (incremental) inputs("inc") else base

  /** Offline fetcher over the generated payloads, keyed by the URLs the
    * pipeline requests; counts its calls for the sources layer. */
  private final class Fetcher(val in: Inputs) extends JsonFetcher {
    private val payloads = {
      val fx = Paths.get(in.dir, "fixtures")
      val bcb = Files.list(fx).toArray.map(_.asInstanceOf[Path])
        .map(_.getFileName.toString).collect {
          case n if n.startsWith("bcb_") =>
            val id = n.stripPrefix("bcb_").stripSuffix(".json").toLong
            BcbSource.url(id, in.start, in.end) -> Files.readString(fx.resolve(n))
        }
      FixtureFetcher(bcb.toMap + (IbgeSource.Url -> Files.readString(fx.resolve("ibge.json"))))
    }
    val calls = new java.util.concurrent.atomic.AtomicInteger()
    override def fetch(url: String): String = { calls.incrementAndGet(); payloads.fetch(url) }
  }

  private def statePath(root: Path) = root.resolve("state/state.json").toString

  // payloads are read once, outside every timed unit
  private val baseFetcher = new Fetcher(base)
  private val loadedFetcher = if (incremental) new Fetcher(loaded) else baseFetcher

  private def pipelineRun(fetcher: Fetcher, root: Path): Pipeline.Result =
    Pipeline.run(spark, fetcher, fetcher.in.runConfig, root.toString, seriesCsv,
      statePath = Some(statePath(root)))

  private val failures = mutable.ArrayBuffer.empty[String]
  private var attempted = 0
  private var failed = 0

  def run(): Map[String, Any] = {
    val baseRoot = work.resolve("base_root")
    if (incremental) { // staging: the durable state every unit starts from
      val res = pipelineRun(baseFetcher, baseRoot)
      val errs = Check.etl(spark, baseRoot, res.summary, base.model)
      if (errs.nonEmpty) sys.error("base load failed its check: " + errs.mkString("; "))
    }
    val stored = mutable.ArrayBuffer.empty[Double]
    val layers = mutable.ArrayBuffer.empty[Map[String, Double]]
    val engine = mutable.ArrayBuffer.empty[Map[String, Double]]
    val tracer = if (trace) Some(Tracer.attach(spark)) else None

    val (first, plain, traced) = Main.loop(seconds, minWarm = 3, trace) { (i, t) =>
      val root = work.resolve(s"roots/u$i")
      if (incremental) Main.copyTree(baseRoot, root)
      attempted += 1
      val failuresBefore = failures.size
      val wall =
        try {
          if (!t) {
            val n0 = System.nanoTime()
            val res = pipelineRun(loadedFetcher, root)
            val w = (System.nanoTime() - n0) / 1e9
            failures ++= Check.etl(spark, root, res.summary, loaded.model).map(e => s"unit $i: $e")
            w
          } else {
            // traced: the same Pipeline.run with the probe counting, then
            // the layer-by-layer replay on a second copy of the root
            val before = fileStamps(root)
            val (res, region) = tracer.get.measure(pipelineRun(loadedFetcher, root))
            failures ++= Check.etl(spark, root, res.summary, loaded.model).map(e => s"unit $i: $e")
            val written = fileStamps(root).filterNot { case (p, s) => before.get(p).contains(s) }
            engine += region.counters ++ Map(
              "pipeline.jobs" -> region.counters.getOrElse("scheduler.jobs", 0.0),
              "pipeline.files_written" -> written.size.toDouble,
              "pipeline.bytes_written" -> written.values.map(_._1.toDouble).sum)
            val replayRoot = work.resolve(s"roots/r$i")
            if (incremental) Main.copyTree(baseRoot, replayRoot)
            val (summary, spans) = replay(replayRoot, tracer.get)
            failures ++= Check.etl(spark, replayRoot, summary, loaded.model)
              .map(e => s"replay $i: $e")
            layers += spans
            Main.deleteTree(replayRoot)
            region.wall
          }
        } catch {
          case e: Exception =>
            failures += s"unit $i: ${e.getClass.getSimpleName}: ${e.getMessage}"
            Double.NaN
        }
      if (failures.size > failuresBefore) failed += 1
      stored += Main.dirBytes(root).toDouble
      Main.deleteTree(root)
      wall
    }
    tracer.foreach(Tracer.detach(spark, _))

    val traceOut =
      if (!trace) Map.empty[String, Double]
      else Main.medians(engine.toSeq) ++ Main.medians(layers.toSeq) ++ Map(
        "trace.overhead_s" -> Main.median(traced.zip(plain).map { case (t, p) => t - p }))
    Map(
      "first_s" -> first,
      "units" -> plain,
      "traced_units" -> traced,
      "latencies" -> plain,
      "stored_bytes" -> Main.median(stored.toSeq),
      "attempted" -> attempted,
      "failed" -> failed,
      "failures" -> failures.toSeq,
      "trace" -> traceOut)
  }

  /** path -> (size, mtime) of every file under `root`. */
  private def fileStamps(root: Path): Map[String, (Long, Long)] =
    if (!Files.exists(root)) Map.empty
    else {
      val s = Files.walk(root)
      try s.filter(Files.isRegularFile(_)).toArray.map(_.asInstanceOf[Path]).map { p =>
        p.toString -> (Files.size(p), Files.getLastModifiedTime(p).toMillis)
      }.toMap finally s.close()
    }

  /** One Pipeline.run replayed layer by layer from the layers' public
    * functions, each span's output materialised (written, or
    * local-checkpointed) before the next span starts so spans never
    * overlap. Returns the summary text and the per-layer metrics. */
  private def replay(root: Path, tr: Tracer): (String, Map[String, Double]) = {
    val spans = mutable.LinkedHashMap.empty[String, Double].withDefaultValue(0.0)
    val regions = mutable.ArrayBuffer.empty[(String, Region)]
    def span[T](name: String)(body: => T): T = {
      val (r, reg) = tr.measure(body)
      spans(name) += reg.wall
      regions += ((name, reg))
      r
    }
    val rootS = root.toString
    val fetcher = loadedFetcher
    val cfg = fetcher.in.runConfig
    val calls0 = fetcher.calls.get
    span("pipeline.heal_s")(TierCommit.heal(spark, rootS))
    val state = IncrementalState.fromFile(statePath(root))

    // sources: series control table, BCB payloads and the UF dimension,
    // each landed in bronze (the pipeline's fetch pool, run the same way)
    val (series, ufDim) = span("sources.fetch_s") {
      val series = spark.read.option("header", "true").csv(seriesCsv)
        .filter(lower(col("enabled")).isin("true", "1", "yes"))
        .select(col("series_id").cast("long"), col("series_name")).collect()
        .map(r => (r.getLong(0), r.getString(1))).toSeq
      val pool = java.util.concurrent.Executors.newFixedThreadPool(math.max(1, math.min(8, series.size)))
      try {
        series.map { case (id, _) =>
          pool.submit(new Runnable {
            def run(): Unit = {
              val b0 = BcbSource.fetch(spark, fetcher, id, cfg.startDate, cfg.endDate)
              val b = state.bcbLastDate.fold(b0)(d => b0.filter(col("date") > lit(d).cast("timestamp")))
              b.write.mode("overwrite").parquet(s"$rootS/bronze/bcb_sgs_$id.parquet")
            }
          })
        }.foreach(_.get())
      } finally pool.shutdown()
      val dimPath = s"$rootS/bronze/ibge_uf_dim.parquet"
      val fresh = state.ibgeLastSync.contains(java.time.LocalDate.now().toString) &&
        Pipeline.pathExists(spark, dimPath)
      if (!fresh) IbgeSource.fetch(spark, fetcher).write.mode("overwrite").parquet(dimPath)
      (series, spark.read.parquet(dimPath))
    }
    span("sources.csv_s") {
      CsvDialect.read(spark, cfg.anpBronzeFile)
        .write.mode("overwrite").parquet(s"$rootS/bronze/anp_raw.parquet")
    }

    // silver: the increment past each mark, merged into the durable store
    def merged(path: String, inc: DataFrame, keys: Seq[String], ord: String,
               mark: Option[String]): DataFrame =
      if (mark.isDefined && Pipeline.pathExists(spark, path))
        graft.operators.Relational.dedupKeepFirst(
          spark.read.parquet(path).unionByName(inc), keys, Seq(col(ord)))
      else inc
    val bcbPath = s"$rootS/silver/bcb_sgs.parquet"
    val anpPath = s"$rootS/silver/anp_prices.parquet"
    val (bcbInc, bcbAll) = span("silver.bcb_s") {
      val inc = series.map { case (id, name) =>
        Silver.toSilverBcb(spark.read.parquet(s"$rootS/bronze/bcb_sgs_$id.parquet"), name)
      }.reduce(_ unionByName _).localCheckpoint(eager = true)
      (inc, merged(bcbPath, inc, Seq("series_id", "date"), "value", state.bcbLastDate)
        .localCheckpoint(eager = true))
    }
    val (anpInc, anpAll) = span("silver.anp_s") {
      val all = Silver.enrichUf(Silver.toSilverAnp(
        spark.read.parquet(s"$rootS/bronze/anp_raw.parquet")), ufDim)
      val inc = state.anpLastPeriod.fold(all)(p => all.filter(col("date_ref") > lit(p).cast("timestamp")))
        .localCheckpoint(eager = true)
      (inc, merged(anpPath, inc, Seq("date_ref", "uf_sigla", "product"), "price",
        state.anpLastPeriod).localCheckpoint(eager = true))
    }
    span("pipeline.swap_write_s") {
      Pipeline.swapWrite(spark, bcbAll, bcbPath)
      Pipeline.swapWrite(spark, anpAll, anpPath)
    }
    val bcbSilver = spark.read.parquet(bcbPath)
    val anpSilver = spark.read.parquet(anpPath)
    val gold = span("silver.gold_s") {
      Silver.buildGold(bcbSilver, anpSilver).map { case (k, v) => k -> v.localCheckpoint(eager = true) }
    }
    val summary = span("pipeline.summary_s")(Summary.build(bcbSilver, anpSilver))
    val wh = s"$rootS/${cfg.warehousePath}"
    val targets = span("pipeline.stage_s") {
      val staged = Seq(
        (ufDim, s"$rootS/silver/dim_uf.parquet", Nil),
        (gold("bcb_monthly"), s"$rootS/gold/bcb_monthly", Seq("series_id")),
        (gold("anp_monthly"), s"$rootS/gold/anp_monthly", Seq("uf_sigla")),
        (bcbSilver, s"$wh/silver_bcb_sgs", Nil), (anpSilver, s"$wh/silver_anp_prices", Nil),
        (ufDim, s"$wh/dim_uf", Nil), (gold("bcb_monthly"), s"$wh/gold_bcb_monthly", Nil),
        (gold("anp_monthly"), s"$wh/gold_anp_monthly", Nil))
      staged.foreach { case (df, p, parts) => TierCommit.stageDf(spark, df, p, parts) }
      TierCommit.stageFile(spark, summary.getBytes(StandardCharsets.UTF_8), s"$rootS/gold/summary.md")
      staged.map(_._2) :+ s"$rootS/gold/summary.md"
    }
    span("pipeline.commit_s") {
      TierCommit.commit(spark, rootS, targets)
      val fmt = java.time.format.DateTimeFormatter.ofPattern("yyyy-MM-dd HH:mm:ss.SSSSSS")
      def mark(df: DataFrame, c: String, prev: Option[String]) =
        Option(df.agg(max(col(c))).collect().head.getTimestamp(0))
          .map(_.toLocalDateTime.format(fmt)).orElse(prev)
      IncrementalState.write(statePath(root), state.copy(
        bcbLastDate = mark(bcbSilver, "date", state.bcbLastDate),
        anpLastPeriod = mark(anpSilver, "date_ref", state.anpLastPeriod),
        ibgeLastSync = Some(java.time.LocalDate.now().toString)))
    }

    // row accounting (untimed): rows entering silver vs rows it keeps
    val rowsIn = spark.read.parquet(s"$rootS/bronze/anp_raw.parquet").count() +
      series.map { case (id, _) => spark.read.parquet(s"$rootS/bronze/bcb_sgs_$id.parquet").count() }.sum
    val rowsOut = anpInc.count() + bcbInc.count()
    val rewritten = anpAll.count() + bcbAll.count()
    def sum(names: Set[String], k: String) =
      regions.collect { case (n, r) if names(n) => r.counters.getOrElse(k, 0.0) }.sum
    val silverSpans = Set("silver.bcb_s", "silver.anp_s", "silver.gold_s")
    val out = spans.toMap ++ Map(
      "sources.fetch_calls" -> (fetcher.calls.get - calls0).toDouble,
      "sources.csv_jobs" -> sum(Set("sources.csv_s"), "scheduler.jobs"),
      "silver.rows_in" -> rowsIn.toDouble,
      "silver.rows_out" -> rowsOut.toDouble,
      "silver.keep_ratio" -> rowsOut.toDouble / rowsIn,
      "silver.shuffle_bytes" -> (sum(silverSpans, "shuffle.write_bytes") +
        sum(silverSpans, "shuffle.read_bytes")),
      "pipeline.rewrite_ratio" -> rewritten.toDouble / math.max(1L, rowsOut),
      "pipeline.summary_jobs" -> sum(Set("pipeline.summary_s"), "scheduler.jobs"))
    (summary, out)
  }
}

object EtlWorkload {
  /** One generated input set: its directory, the run window and its model. */
  final case class Inputs(dir: String, start: String, end: String, model: JValue) {
    def runConfig: RunConfig = RunConfig(start, end, s"$dir/anp", "warehouse")
  }
}
