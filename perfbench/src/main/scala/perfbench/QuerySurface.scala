package perfbench

import java.util.SplittableRandom
import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.SparkEntry

/** `query_surface`: a fixed sample of the registered queries graft.Bench
  * times — every 12th name in sorted order plus the ROADMAP targets — on
  * a harness scale-factor directory given with `--surface-dir`. The seed
  * shuffles the order. Each query is materialized through the noop sink
  * and also timed with `count()`; the two row counts must agree.
  *
  * Its input is the harness's table set, which the benchmark cannot
  * generate, so this workload runs only when asked for by hand. */
object QuerySurface {
  val targets: Seq[String] = Seq("g25_betweenness", "g9_hits",
    "g17_closeness", "g12_ktruss", "g15_random_walks", "x42_mad_outliers",
    "t27_quality_filter", "x5_rollup")

  val families: Seq[String] = Seq("relational", "analytics_x", "graph", "ml",
    "text", "dedup", "streaming", "other")

  def family(name: String): String =
    "^[a-z]+".r.findFirstIn(name).getOrElse("") match {
      case "q" | "j" | "xj" | "r" | "ds" => "relational"
      case "x"                => "analytics_x"
      case "g"                => "graph"
      case "ml"               => "ml"
      case "t"                => "text"
      case "d" | "sim" | "er" => "dedup"
      case "s"                => "streaming"
      case _                  => "other"
    }

  val catalog: Seq[(String, String)] =
    Seq("setup_s" -> "s", "surface_noop_s" -> "s", "surface_count_s" -> "s",
      "peak_rss_mb" -> "MB") ++
      families.flatMap(f => Seq("ms" -> "ms", "cpu_ms" -> "ms",
        "jobs" -> "count", "codegen_ms" -> "ms", "driver_ms" -> "ms")
        .map { case (k, u) => s"surface.$f.$k" -> u })

  def sample: Seq[(String, (SparkSession, String) => DataFrame)] = {
    val all = SparkEntry.queries ++ SparkEntry.benchOverrides
    val names = all.keys.toSeq.sorted
    val picked = (names.indices.filter(_ % 12 == 0).map(names) ++ targets)
      .distinct.filter(all.contains)
    picked.map(n => n -> all(n))
  }

  def run(r: Run, dir: String): Unit = {
    val spark = r.spark
    val tr = r.tracer
    val qs = sample
    val (_, warmS) = Util.timed(tr.span("setup.warmup") {
      qs.foreach { case (n, f) => r.attempt(s"$n (warm-up)")(f(spark, dir).count()) }
    })
    val rng = new SplittableRandom(r.seed)
    val noop = mutable.Map[String, List[Double]]().withDefaultValue(Nil)
    val cnt = mutable.Map[String, List[Double]]().withDefaultValue(Nil)
    r.measure("surface") {
      val (_, s) = Util.timed {
        qs.sortBy(_ => rng.nextInt()).foreach { case (n, f) =>
          r.attempt(n) {
            val (rows, ns) = Util.timed(tr.span(s"surface.$n") {
              Run.noopCount(f(spark, dir))
            })
            val (c, cs) = Util.timed(f(spark, dir).count())
            r.check(s"$n: noop rows = count()", rows == c, s"$rows vs $c")
            noop(n) = ns :: noop(n)
            cnt(n) = cs :: cnt(n)
          }
        }
      }
      Some(((), s))
    }
    r.put("setup_s", r.sessionS + warmS, "s")
    r.put("surface_noop_s", noop.values.map(v => Util.median(v)).sum, "s")
    r.put("surface_count_s", cnt.values.map(v => Util.median(v)).sum, "s")
    if (tr.enabled) {
      val passes = qs.map(q => tr.measured(s"surface.${q._1}").size).max max 1
      families.foreach { fam =>
        val c8s = qs.filter(q => family(q._1) == fam)
          .flatMap(q => tr.measured(s"surface.${q._1}")).map(tr.c8)
        Seq("ms", "cpu_ms", "jobs", "codegen_ms", "driver_ms").foreach { k =>
          r.put(s"surface.$fam.$k", c8s.map(_(k)).sum / passes,
            catalog.toMap.apply(s"surface.$fam.$k"))
        }
      }
    }
  }
}
