package perfbench

import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable

import org.apache.spark.sql.SparkSession
import org.json4s._
import org.json4s.jackson.JsonMethods

/** Benchmark harness: runs one workload in a closed loop inside one
  * Spark session and writes its raw measurements as JSON.
  *
  *   Main <config.json>
  *
  * The config (written by perfbench/run.py) names the workload, the
  * measuring budget, the trace flag and the generated inputs. The first
  * unit of work runs in the cold JVM and is reported on its own; warm
  * units follow until the budget is spent. With tracing on, untraced
  * and traced units alternate, so the tracing overhead is measured in
  * the same process. */
object Main {
  implicit val formats: Formats = DefaultFormats

  def main(args: Array[String]): Unit = {
    val cfg = JsonMethods.parse(Files.readString(Paths.get(args(0))))
    val work = (cfg \ "work").extract[String]
    val cpus = (cfg \ "cpus").extract[Int]
    stopByMs = (cfg \ "stop_by_ms").extract[Long]
    val t0 = System.nanoTime()
    val spark = session(cpus, work)
    val sessionS = (System.nanoTime() - t0) / 1e9
    val out = mutable.LinkedHashMap[String, Any](
      "jvm_start_ms" -> java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime,
      "session_s" -> sessionS)
    val workload = (cfg \ "workload").extract[String]
    val result =
      try {
        if (workload.startsWith("etl_")) new EtlWorkload(spark, cfg).run()
        else new QueryWorkload(spark, cfg).run()
      } finally spark.stop()
    out ++= result
    out("setup_end_ms") = setupEndMs
    Files.writeString(Paths.get((cfg \ "result").extract[String]), Json(out))
  }

  /** The session settings of Bench and RunPipeline; the warehouse and
    * scratch directories are pinned inside the run's own directory. */
  def session(cpus: Int, work: String): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.ansi.enabled", "false")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.warehouse.dir", s"$work/spark-warehouse")
      .config("spark.local.dir", s"$work/spark-local")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  /** Epoch ms at which set-up ended and the first unit started. */
  @volatile var setupEndMs = 0L

  /** Closed loop. `unit(i, traced)` runs unit i and returns its wall
    * seconds; unit 0 is the cold first unit, which carries the JIT and
    * codegen warm-up. Warm units then run until `seconds` have passed
    * and at least `minWarm` ran; with tracing on, warm units alternate
    * untraced / traced. On a box slowed so far that the run would miss
    * its deadline, no unit starts that would end after `stopByMs` if it
    * took as long as the last one (with its checks), once one of each
    * kind has run; the run then reports the fewer samples it has. */
  def loop(seconds: Double, minWarm: Int, trace: Boolean)(
      unit: (Int, Boolean) => Double): (Double, Seq[Double], Seq[Double]) = {
    setupEndMs = System.currentTimeMillis()
    val first = unit(0, false)
    val plain = mutable.ArrayBuffer.empty[Double]
    val traced = mutable.ArrayBuffer.empty[Double]
    val start = System.nanoTime()
    var i = 1
    // a traced run needs two of each kind: medians, and the overhead pairs
    def warmDone =
      if (trace) plain.size >= 2 && traced.size >= 2 else plain.size >= minWarm
    var lastMs = 0L
    def late = plain.nonEmpty && (!trace || traced.nonEmpty) &&
      System.currentTimeMillis() + lastMs > stopByMs
    while ((!warmDone || (System.nanoTime() - start) / 1e9 < seconds) && !late) {
      val t = trace && i % 2 == 0
      System.gc() // untimed: no unit pays for the garbage of the one before
      val t0 = System.currentTimeMillis()
      (if (t) traced else plain) += unit(i, t)
      lastMs = System.currentTimeMillis() - t0
      i += 1
    }
    if (!warmDone) System.err.println(s"[perfbench] deadline near: stopped after ${i - 1} warm units")
    (first, plain.toSeq, traced.toSeq)
  }

  /** Epoch ms by which [[loop]] must have ended its optional units. */
  var stopByMs: Long = Long.MaxValue

  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0 else {
      val s = xs.sorted
      if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
    }

  /** Median of each metric over per-unit metric maps. */
  def medians(units: Seq[Map[String, Double]]): Map[String, Double] =
    units.flatMap(_.keys).distinct.map(k => k -> median(units.map(_.getOrElse(k, 0.0)))).toMap

  def dirBytes(p: Path): Long =
    if (!Files.exists(p)) 0L
    else {
      val s = Files.walk(p)
      try s.filter(Files.isRegularFile(_)).mapToLong(Files.size(_)).sum() finally s.close()
    }

  def deleteTree(p: Path): Unit =
    if (Files.exists(p)) {
      val s = Files.walk(p)
      try s.sorted(java.util.Comparator.reverseOrder[Path]()).forEach(Files.delete(_))
      finally s.close()
    }

  def copyTree(from: Path, to: Path): Unit = {
    val s = Files.walk(from)
    try s.forEach { src =>
      val dst = to.resolve(from.relativize(src).toString)
      if (Files.isDirectory(src)) Files.createDirectories(dst) else Files.copy(src, dst)
    } finally s.close()
  }

  /** Minimal JSON rendering of maps, sequences, strings and numbers. */
  def Json(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => Json(x)
    case s: String => JsonMethods.compact(JsonMethods.render(JString(s)))
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case n: Number => n.toString
    case m: collection.Map[_, _] =>
      m.map { case (k, x) => Json(k.toString) + ":" + Json(x) }.mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(Json).mkString("[", ",", "]")
    case other => Json(other.toString)
  }
}
