package perfbench

import java.security.MessageDigest

import scala.util.control.NonFatal

import org.apache.spark.PerfbenchBridge
import org.apache.spark.sql.{Row, SparkSession}

import graft.SparkEntry
import graft.queries.{Q, Relational, SeenOps, SessionCache, Stats, TextOps, VectorOps}

/** The query workload: a fixed mix of registry queries over one fixed
  * input, run in registry order, one query at a time, each collected to
  * the driver (results are at most 10 000 rows). Collecting in every pass
  * gives every execution an output to check, and keeps the measured
  * passes' plans identical to the warm-up pass's, so they run with its
  * generated code. A pass is the whole mix; the session cache is
  * invalidated between passes so every pass does the same work, including
  * the memoized intermediates the dedup and audit queries build.
  *
  * The mix is the eight queries the roadmap names as hot plus one query of
  * each module they leave out (Stats, SeenOps): a pass of all 80 queries
  * takes about 50 s on 4 cores even on the smallest input, too long to
  * repeat inside one run. */
object Queries {
  val QueryProp = "perfbench.query"
  val PassProp = "perfbench.pass"

  val Mix: Set[String] = Set(
    "scalar_string", "scalar_json", "window_rank_per_key", "link_pagerank",
    "text_repetition", "dedup_paragraph", "dedup_ngram_jaccard",
    "dedup_embed_audit", "agg_stats", "cuckoo_seen_filter")

  val modules: Seq[(String, Seq[Q])] = Seq(
    "Relational" -> Relational.all, "Stats" -> Stats.all, "TextOps" -> TextOps.all,
    "VectorOps" -> VectorOps.all, "SeenOps" -> SeenOps.all)

  def moduleOf(name: String): String =
    modules.collectFirst { case (m, qs) if qs.exists(_.name == name) => m }.getOrElse("other")

  def mix: Seq[Q] = SparkEntry.registry.filter(q => Mix(q.name))

  /** Row count and an order-stable digest of collected rows. Floating
    * values are rounded to 9 significant digits so the digest does not
    * depend on summation order across partitions. */
  def digest(rows: Array[Row]): (Long, String) = {
    def norm(v: Any): String = v match {
      case null => "∅"
      case d: Double => if (d.isNaN || d.isInfinite) d.toString else f"$d%.9g"
      case f: Float => if (f.isNaN || f.isInfinite) f.toString else f"${f.toDouble}%.6g"
      case b: Array[Byte] => b.map("%02x".format(_)).mkString
      case r: Row => r.toSeq.map(norm).mkString("(", ",", ")")
      case s: scala.collection.Seq[_] => s.map(norm).mkString("[", ",", "]")
      case m: scala.collection.Map[_, _] =>
        m.toSeq.map { case (k, x) => norm(k) + "->" + norm(x) }.sorted.mkString("{", ",", "}")
      case other => other.toString
    }
    val md = MessageDigest.getInstance("SHA-256")
    rows.foreach { r => md.update(norm(r).getBytes("UTF-8")); md.update('\n'.toByte) }
    (rows.length.toLong, md.digest().take(8).map("%02x".format(_)).mkString)
  }

  /** Runs and collects one query; the digest of its rows is computed after
    * the timing. */
  private def runOne(spark: SparkSession, q: Q, data: String, pass: Int, spans: Spans,
                     passSpan: Int): Map[String, Any] = {
    val sc = spark.sparkContext
    sc.setLocalProperty(QueryProp, q.name)
    sc.setLocalProperty(PassProp, pass.toString)
    val c0 = PerfbenchBridge.codegenCompiles
    val t0 = System.nanoTime()
    val cpu0 = Main.processCpuNanos()
    var rows: Array[Row] = null
    val err = try {
      rows = spans(s"queries.${moduleOf(q.name)}.${q.name}", passSpan) {
        q.run(spark, data).collect()
      }
      ""
    } catch { case NonFatal(e) => s"${e.getClass.getSimpleName}: ${e.getMessage}" }
    val wall = (System.nanoTime() - t0) / 1e9
    val cpu = (Main.processCpuNanos() - cpu0) / 1e9
    val compiles = PerfbenchBridge.codegenCompiles - c0
    sc.setLocalProperty(QueryProp, null)
    sc.setLocalProperty(PassProp, null)
    val (n, d) = if (rows == null) (-1L, "") else digest(rows)
    Map("name" -> q.name, "module" -> moduleOf(q.name), "pass" -> pass,
      "wall_s" -> wall, "cpu_s" -> cpu, "codegen_compiles" -> compiles, "error" -> err,
      "rows" -> n, "digest" -> d)
  }

  /** Set-up: session, then one untimed pass of the mix (pass 0), which
    * carries the first-run code generation. The timed window then runs
    * whole passes until `seconds` have passed. */
  def run(spark: SparkSession, data: String, seconds: Int, spans: Spans): Map[String, Any] = {
    val qs = mix
    val records = Seq.newBuilder[Map[String, Any]]
    val cacheEntries = Seq.newBuilder[Int]
    val passWalls = Seq.newBuilder[Double]
    def pass(i: Int): Double = {
      val sp = spans.start("queries.pass")
      var wall = 0.0
      qs.foreach { q =>
        val rec = runOne(spark, q, data, i, spans, sp)
        records += rec
        wall += rec("wall_s").asInstanceOf[Double]
      }
      spans.end(sp)
      cacheEntries += SessionCache.sizeFor(spark)
      SessionCache.invalidate(spark)
      wall
    }
    val setupS = pass(0)
    val w0 = System.nanoTime()
    var i = 1
    while ((System.nanoTime() - w0) / 1e9 < seconds) {
      passWalls += pass(i)
      i += 1
    }
    Map("setup_s" -> setupS, "window_s" -> (System.nanoTime() - w0) / 1e9,
      "queries" -> records.result(), "mix_size" -> qs.size,
      "pass_walls" -> passWalls.result(), "cache_entries" -> cacheEntries.result())
  }

  /** One untimed pass collecting every query's output (the expectations
    * table for this fixed input). */
  def record(spark: SparkSession, data: String): Map[String, Any] =
    Map("recorded" -> mix.map { q =>
      val (n, d) = digest(q.run(spark, data).collect())
      Map("name" -> q.name, "rows" -> n, "digest" -> d)
    })
}
