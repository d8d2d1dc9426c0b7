package perfbench

import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.json4s._

import graft.Queries

/** queries_spine and queries_iterative: one unit is one pass over the
  * query mix in a seed-permuted order. A query's latency runs from
  * calling its registry function (construction, including any eager
  * driver-side jobs) to the noop write returning. After the timed
  * passes, each query's frame from the last warm pass is executed once
  * more and written as parquet for the DuckDB oracle check
  * (perfbench/oracle.py). */
final class QueryWorkload(spark: SparkSession, cfg: JValue) {
  import Main.formats

  private val seconds = (cfg \ "seconds").extract[Double]
  private val trace = (cfg \ "trace").extract[Boolean]
  private val seed = (cfg \ "seed").extract[Long]
  private val data = (cfg \ "queries" \ "data").extract[String]
  private val names = (cfg \ "queries" \ "names").extract[Seq[String]]
  private val families = (cfg \ "queries" \ "families").extractOrElse[Map[String, String]](Map.empty)
  private val dump = Paths.get((cfg \ "queries" \ "dump").extract[String])
  private val registry = Queries.all.toMap

  private val failures = mutable.ArrayBuffer.empty[String]
  private var attempted = 0
  // each query's frame from the latest warm pass, for the oracle check
  private val warmFrames = mutable.Map.empty[String, DataFrame]

  def run(): Map[String, Any] = {
    val unknown = names.filterNot(registry.contains)
    require(unknown.isEmpty, s"queries not in the registry: ${unknown.mkString(", ")}")
    val latencies = mutable.ArrayBuffer.empty[Double]
    val layers = mutable.ArrayBuffer.empty[Map[String, Double]]
    val tracer = if (trace) Some(Tracer.attach(spark)) else None

    val (first, plain, traced) = Main.loop(seconds, minWarm = 3, trace) { (pass, t) =>
      val order = new scala.util.Random(seed * 7919 + pass).shuffle(names)
      val perPass = mutable.Map.empty[String, Double].withDefaultValue(0.0)
      val n0 = System.nanoTime()
      order.foreach { q =>
        attempted += 1
        val fn = registry(q).fn
        try {
          if (!t) {
            val q0 = System.nanoTime()
            val df = fn(spark, data)
            df.write.format("noop").mode("overwrite").save()
            val s = (System.nanoTime() - q0) / 1e9
            if (pass > 0) { latencies += s; warmFrames(q) = df }
            System.err.println(f"[perfbench] pass $pass $q $s%.3f s")
          } else {
            val tr = tracer.get
            val (df, c) = tr.measure(fn(spark, data))
            val (_, e) = tr.measure(df.write.format("noop").mode("overwrite").save())
            perPass("queries.construct_s") += c.wall
            perPass("queries.construct_jobs") += c.counters.getOrElse("scheduler.jobs", 0.0)
            perPass("queries.execute_s") += e.wall
            warmFrames(q) = df
            // Engine counters over both spans; Catalyst time only from the
            // execution span, i.e. the executed noop-write QueryExecution.
            def get(r: Region, k: String) = r.counters.getOrElse(k, 0.0)
            (c.counters.keySet ++ e.counters.keySet).foreach {
              case k if k.startsWith("catalyst.") => perPass(k) += get(e, k)
              case k @ "memory.peak_exec_bytes" => perPass(k) = Seq(perPass(k), get(c, k), get(e, k)).max
              case "executor.util" =>
              case k => perPass(k) += get(c, k) + get(e, k)
            }
            families.get(q).foreach { f =>
              perPass(s"operators.$f.wall_s") += c.wall + e.wall
              perPass(s"operators.$f.jobs") += get(c, "scheduler.jobs") + get(e, "scheduler.jobs")
            }
          }
        } catch {
          case ex: Exception =>
            failures += s"pass $pass $q: ${ex.getClass.getSimpleName}: ${ex.getMessage}"
        } finally spark.catalog.clearCache()
      }
      val wall = (System.nanoTime() - n0) / 1e9
      if (t) {
        perPass("executor.util") =
          perPass("executor.run_s") / (perPass("queries.construct_s") + perPass("queries.execute_s")) /
            spark.sparkContext.defaultParallelism
        layers += perPass.toMap
      }
      wall
    }
    tracer.foreach(Tracer.detach(spark, _))
    verifyPass()

    val traceOut =
      if (!trace) Map.empty[String, Double]
      else Main.medians(layers.toSeq) ++ Map(
        "trace.overhead_s" -> Main.median(traced.zip(plain).map { case (t, p) => t - p }))
    // indexes the registry persists under java.io.tmpdir/graft-*
    val indexes = Files.list(Paths.get(sys.props("java.io.tmpdir"))).toArray
      .map(_.asInstanceOf[Path]).filter(_.getFileName.toString.startsWith("graft-"))
    Map(
      "first_s" -> first,
      "units" -> plain,
      "traced_units" -> traced,
      "latencies" -> latencies.toSeq,
      "stored_bytes" -> (Main.dirBytes(dump) + indexes.map(Main.dirBytes).sum).toDouble,
      "attempted" -> attempted,
      "failed" -> failures.size,
      "failures" -> failures.toSeq,
      "trace" -> traceOut)
  }

  /** Warm outputs for the oracle check: each query's last warm frame
    * as one parquet directory, plus the registry's oracle SQL for each
    * query. */
  private def verifyPass(): Unit = {
    Files.createDirectories(dump)
    names.foreach { q =>
      attempted += 1
      try warmFrames.get(q) match {
        case Some(df) => df.coalesce(1).write.mode("overwrite").parquet(dump.resolve(q).toString)
        case None => failures += s"check pass $q: no warm pass returned a frame"
      }
      catch {
        case ex: Exception => failures += s"check pass $q: ${ex.getClass.getSimpleName}: ${ex.getMessage}"
      } finally spark.catalog.clearCache()
    }
    val oracle = names.flatMap(q => registry(q).oracle.map(q -> _)).toMap
    Files.writeString(dump.resolve("oracle_sql.json"), Main.Json(oracle))
  }
}
