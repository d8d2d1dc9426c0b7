package perfbench

import java.nio.file.{Files, Path}

import scala.collection.mutable

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.json4s._

import graft.pipeline.IncrementalState

/** Output checks of one pipeline run against the generator's model
  * (perfbench/gen_etl.py). Reads the run's tiers from disk, so it must
  * run before the next unit swaps them. Returns the mismatches. */
object Check {
  import Main.formats

  def etl(spark: SparkSession, root: Path, summary: String, model: JValue): Seq[String] = {
    val errs = mutable.ArrayBuffer.empty[String]
    def m[T: Manifest](k: String): T = (model \ k).extract[T]
    def expect(what: String, got: Any, want: Any): Unit =
      if (got != want) errs += s"$what: got $got, want $want"
    def rows(p: String) = spark.read.parquet(root.resolve(p).toString).count()
    def goldSum(p: String, c: String): (Long, Double) = {
      val r = spark.read.parquet(root.resolve(p).toString).agg(count(lit(1)), sum(col(c))).head()
      (r.getLong(0), r.getDouble(1))
    }
    def close(a: Double, b: Double) = math.abs(a - b) <= 1e-9 * math.max(1.0, math.abs(b))

    expect("silver bcb rows", rows("silver/bcb_sgs.parquet"), m[Long]("bcb_silver_rows"))
    expect("silver anp rows", rows("silver/anp_prices.parquet"), m[Long]("anp_silver_rows"))
    for ((p, c, n, s) <- Seq(
        ("gold/bcb_monthly", "avg_value", "gold_bcb_rows", "gold_bcb_avg_sum"),
        ("gold/anp_monthly", "avg_price", "gold_anp_rows", "gold_anp_avg_sum"))) {
      val (cnt, total) = goldSum(p, c)
      expect(s"$p rows", cnt, m[Long](n))
      if (!close(total, m[Double](s))) errs += s"$p sum($c): got $total, want ${m[Double](s)}"
    }
    val committed = Seq("silver_bcb_sgs", "silver_anp_prices", "dim_uf", "gold_bcb_monthly",
      "gold_anp_monthly").map("warehouse/" + _) :+ "silver/dim_uf.parquet"
    for (t <- committed if !Files.exists(root.resolve(s"$t/_SUCCESS")))
      errs += s"$t: not committed"
    val state = IncrementalState.fromFile(root.resolve("state/state.json").toString)
    expect("bcb_last_date", state.bcbLastDate, Some(m[String]("bcb_last_date")))
    expect("anp_last_period", state.anpLastPeriod, Some(m[String]("anp_last_period")))
    val md = Files.readString(root.resolve("gold/summary.md"))
    expect("summary.md", md, summary)
    summaryErrors(summary, model).foreach(errs += _)
    errs.toSeq
  }

  private val Num = """[+-]?\d+\.\d{2}""".r

  /** The summary must equal the model's text. Printed numbers may differ
    * by one cent (a float sum landing on the other side of a rounding
    * tie), and ANP lines may name another key only when its exact
    * month-over-month change ties the model's within float noise. */
  def summaryErrors(got: String, model: JValue): Option[String] = {
    val want = (model \ "summary").extract[String]
    if (got == want) return None
    val changes = (model \ "summary_values" \ "anp_changes").extract[Map[String, Double]]
    val third = changes.values.toSeq.sorted.reverse.lift(2).getOrElse(Double.MinValue)
    val (g, w) = (got.split("\n").toSeq, want.split("\n").toSeq)
    def nums(s: String) = Num.findAllIn(s).map(_.toDouble).toSeq
    def sameShape(a: String, b: String) =
      Num.replaceAllIn(a, "#") == Num.replaceAllIn(b, "#") &&
        nums(a).zip(nums(b)).forall { case (x, y) => math.abs(x - y) <= 0.0100001 }
    val Anp = """- (.+): variação média ([+-]\d+\.\d{2}) \(vs mês anterior\)\.""".r
    def tiedKey(line: String) = line match {
      case Anp(k, v) => changes.get(k).exists(c =>
        math.abs(c - v.toDouble) <= 0.0050001 && c >= third - 1e-6)
      case _ => false
    }
    val ok = g.size == w.size && g.zip(w).forall { case (a, b) => sameShape(a, b) || tiedKey(a) }
    if (ok) None else Some(s"summary: got <<$got>>, want <<$want>>")
  }
}
