package perfbench

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.crawl._
import graft.fetch.GenerativeFetcher
import graft.filters.GraftBloomFilter
import graft.fixtures.SyntheticCorpus
import graft.store.DurableCrawler

/** The crawl workload: thin pages (~1 KB) through the durable store, one
  * round per `DurableCrawler.runRounds` call, so the per-round fixed cost
  * (driver jobs, snapshot commits, compaction, filter rebuilds) dominates.
  * The frontier cap makes compaction fire every round once the frontier
  * fills it, and the small Bloom geometry makes the growth guard rebuild
  * the shards inside the measured rounds.
  *
  * A run is one crawl from fresh state; round 0 is warm-up and not
  * measured. The crawl is deterministic, so the first `RecordRounds` rounds
  * of a seed can be checked against recorded lineage and seen sets.
  * `NUrls` sizes the synthetic web, not the crawl: pages are generated on
  * fetch, and the web is large enough that no crawl drains its frontier. */
object Crawls {
  val NHosts = 1000
  val Fanout = 4
  val NUrls = 4000000L
  val FillScale = 1
  val Budget = 4
  val NSeeds = 8000
  val MaxRounds = 12
  val RecordRounds = 3
  val Cfg = CrawlConfig(nShards = 32, expectedKeysPerShard = 128, bloomFpp = 0.01,
    saltBuckets = 32, maxDepth = 100, broadcastBloomProbe = true,
    stateBuckets = 4, frontierCap = Some(10000L))

  def seedUrls(seed: Long): Seq[String] = {
    val step = NUrls / NSeeds
    (0L until NSeeds.toLong).map(i => SyntheticCorpus.canonicalUrl(i * step, seed, NHosts))
  }

  def robots(spark: SparkSession): DataFrame = {
    import spark.implicits._
    (0 until NHosts).map(h => RobotsRules(s"h$h.example", Seq(), Seq("/private/"), 100L)).toDF()
  }

  def noBudgets(spark: SparkSession): DataFrame = {
    import spark.implicits._
    Seq.empty[(String, Int)].toDF("host", "budget")
  }

  /** Order-independent digest of a urlHash column: (count, xor, sum of the
    * low 32 bits) — equal for equal sets without duplicates. */
  def digest(df: DataFrame): Seq[Long] = {
    val r = df.agg(count(lit(1)), bit_xor(col("urlHash")),
      sum(col("urlHash").bitwiseAND(0xffffffffL))).head()
    Seq(r.getLong(0), if (r.isNullAt(1)) 0L else r.getLong(1), if (r.isNullAt(2)) 0L else r.getLong(2))
  }

  def lineageRow(l: RoundLineage): Seq[Long] =
    Seq(l.popped, l.fetched, l.extracted, l.rawCandidates, l.enqueued,
      l.dedupDropped, l.evicted, l.readmitted)

  /** Bloom health from the final shard table, through the filters API:
    * bit fill per shard and the false-positive rate it implies (fill^k). */
  def bloomHealth(shards: DataFrame): Map[String, Any] = {
    val rows = shards.select("bits").collect().map(_.getAs[Array[Byte]](0))
    val per = rows.map { bytes =>
      val f = GraftBloomFilter.deserialize(bytes)
      val header = bytes.length - (f.numBits / 8).toInt
      var ones = 0L
      val bb = java.nio.ByteBuffer.wrap(bytes, header, bytes.length - header)
      while (bb.remaining() >= 8) ones += java.lang.Long.bitCount(bb.getLong())
      val fill = ones.toDouble / f.numBits
      (fill, math.pow(fill, f.numHashes))
    }
    Map("shards" -> per.length,
      "fill_max" -> (if (per.isEmpty) 0.0 else per.map(_._1).max),
      "fpp_est_max" -> (if (per.isEmpty) 0.0 else per.map(_._2).max))
  }

  /** A durable crawl of one seed under observation; its store lives under
    * `root` and is deleted on close. */
  private final class Crawl(spark: SparkSession, seed: Long, root: Path) extends AutoCloseable {
    deleteTree(root)
    private val fetcher = new GenerativeFetcher(NUrls, seed, NHosts, Fanout, FillScale)
    private val rob = robots(spark)
    private val budgets = noBudgets(spark)
    private val d = new DurableCrawler(spark, root.toString, Cfg)

    def setup(): Unit = d.init(seedUrls(seed), rob)

    def round(r: Int, spans: Spans, parent: Int): RoundLineage =
      spans("store.DurableCrawler.runRounds", parent) {
        d.runRounds(r, fetcher, rob, budgets, Budget)
      }.headOption.getOrElse(throw new IllegalStateException(s"frontier drained at round $r"))

    def state: CrawlRound.State = d.currentState()

    def storeBytes: Long =
      Files.walk(root).iterator().asScala.filter(Files.isRegularFile(_)).map(Files.size).sum

    def close(): Unit = try d.close() finally deleteTree(root)
  }

  def deleteTree(root: Path): Unit =
    if (Files.exists(root))
      Files.walk(root).iterator().asScala.toSeq.reverse.foreach(Files.deleteIfExists(_))

  private def seenOf(st: CrawlRound.State): Seq[Long] =
    digest(st.seenExact.unionByName(st.failed.select("urlHash")))

  /** Set-up is the store's `init` plus round 0, where JIT, codegen and
    * first-job costs land. The timed window then runs further rounds of the
    * same crawl until `seconds` have passed (at most `MaxRounds` rounds in
    * all). After the window the final state is observed, untimed, for the
    * output check and the filter snapshot. */
  def run(spark: SparkSession, seed: Long, seconds: Int, spans: Spans,
          out: String, trace: Boolean): Map[String, Any] = {
    val rounds = Seq.newBuilder[Map[String, Any]]
    val t0 = System.nanoTime()
    var setupS = -1.0
    var w0 = 0L
    val c = new Crawl(spark, seed, Paths.get(out, "store"))
    try {
      c.setup()
      var r = 0
      var going = true
      while (going && r < MaxRounds) {
        val start = System.currentTimeMillis()
        val rt = System.nanoTime()
        val cpu0 = Main.processCpuNanos()
        val rid = spans.start("crawl.round")
        var lin: Seq[Long] = Nil
        val err = try { lin = lineageRow(c.round(r, spans, rid)); "" }
        catch { case NonFatal(e) => s"${e.getClass.getSimpleName}: ${e.getMessage}" }
        val wall = (System.nanoTime() - rt) / 1e9
        val cpu = (Main.processCpuNanos() - cpu0) / 1e9
        spans.end(rid)
        val end = System.currentTimeMillis()
        if (r == 0) setupS = (System.nanoTime() - t0) / 1e9
        rounds += Map("round" -> r, "start_ms" -> start, "end_ms" -> end, "wall_s" -> wall,
          "cpu_s" -> cpu, "lineage" -> lin, "error" -> err,
          "bloom_keys_per_shard" -> (if (err.isEmpty) c.state.bloomKeysPerShard else -1L))
        if (r == 0) w0 = System.nanoTime()
        going = err.isEmpty && (System.nanoTime() - w0) / 1e9 < seconds
        r += 1
      }
      val windowS = (System.nanoTime() - w0) / 1e9
      val st = c.state
      val finalObs = Map[String, Any]("seen" -> seenOf(st),
        "seen_exact" -> digest(st.seenExact), "seen_size" -> st.seenSize,
        "store_bytes" -> c.storeBytes) ++
        (if (trace) Map("filters" -> bloomHealth(st.bloomShards)) else Map.empty)
      Map("setup_s" -> setupS, "window_s" -> windowS, "rounds" -> rounds.result(),
        "final" -> finalObs,
        "params" -> Map("n_urls" -> NUrls, "fill_scale" -> FillScale,
          "budget" -> Budget, "n_seeds" -> NSeeds, "max_rounds" -> MaxRounds,
          "frontier_cap" -> Cfg.frontierCap.getOrElse(-1L),
          "expected_keys_per_shard" -> Cfg.expectedKeysPerShard))
    } finally c.close()
  }

  /** Observes the first `RecordRounds` rounds of the crawl of each seed (no
    * timing): per round its lineage total and the seen set after it. */
  def record(spark: SparkSession, seeds: Seq[Long], out: String): Map[String, Any] =
    Map("recorded" -> seeds.map { s =>
      val c = new Crawl(spark, s, Paths.get(out, "store"))
      try {
        c.setup()
        val obs = (0 until RecordRounds).map { r =>
          (lineageRow(c.round(r, new Spans(false), -1)), seenOf(c.state))
        }
        Map("seed" -> s, "rounds" -> obs.map(_._1), "seen" -> obs.map(_._2))
      } finally c.close()
    })
}
