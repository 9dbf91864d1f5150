package perfbench

import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

import graft.{CrawlMain, SparkEntry}
import graft.canon.Canon
import graft.engine.Engine
import graft.model.Model.{Doc, Span}
import graft.probes.CrawlConfig
import graft.spans.{JsonSink, SpanCodec}
import graft.tables.SnapTable
import graft.universe.Universe

/** JVM side of the benchmark. Generates one workload's inputs from the
  * seed, drives the program through its public entry points as a closed
  * loop (one client; the next call starts when the previous one returned),
  * and writes raw measurements as JSON for `run.py` to check and summarize.
  *
  * Usage: `perfbench.Harness <workload> <seed> <seconds> <trace 0|1> <runDir> <result.json>`
  */
object Harness {

  /** Universe seed of every crawl: the program's own default (`CrawlMain --seed`). */
  val UniverseSeed = 42L
  /** The workload seed that the recorded golden digests belong to. */
  val DefaultSeed = 42L

  val CrawlDomains = 1000
  /** Documents of the traced run's frontier leg. */
  val FrontierDocs = 100
  val CurationDocs = 500
  val Queries = Seq("q19_ngram_jaccard", "q35_dup_clusters", "q43_cluster_reps",
    "q45_curation_funnel", "q102_setsim_join")
  val SessionSetups = 3
  /** Fewest measured calls of an untraced run. A curation pass takes 11–15 s
    * on 4 cores; a third pass in every run would not fit the benchmark's
    * time budget (perfbench/README.md).
    */
  val MinCalls = 2
  /** Discovery depth of the frontier leg (`CrawlMain --discover-depth`). */
  val DiscoverDepth = 1
  val PhaseNames = Seq("seed", "admit", "budgets", "select", "commit_results",
    "commit_spans", "discover", "commit_backlog", "commit_ckpt", "compact")
  val Tables = Seq("results", "result_spans", "backlog", "checkpoint")

  /** First generator index of a run: the seed picks which domains exist. */
  def firstIndex(seed: Long, n: Int): Long = Math.floorMod(seed - DefaultSeed, 1000000L) * n

  /** One closed-loop call: its wall and process-CPU seconds, the items it
    * committed, the bytes it left on disk and workload-specific check values.
    */
  final case class Iter(wall: Double, cpu: Double, items: Long, diskBytes: Long,
      check: Map[String, Any])

  private def processCpu(): Double =
    ManagementFactory.getOperatingSystemMXBean
      .asInstanceOf[com.sun.management.OperatingSystemMXBean].getProcessCpuTime / 1e9

  def timed[A](body: => A): (A, Double, Double) = {
    val c0 = processCpu(); val t0 = System.nanoTime()
    val r = body
    (r, (System.nanoTime() - t0) / 1e9, processCpu() - c0)
  }

  // ------------------------------------------------------------ files

  def files(dir: String): Seq[Path] = {
    val p = Paths.get(dir)
    if (!Files.exists(p)) Seq.empty
    else {
      val s = Files.walk(p)
      try s.iterator().asScala.filter(Files.isRegularFile(_)).toVector finally s.close()
    }
  }
  def dirBytes(dir: String): Long = files(dir).map(Files.size).sum
  def parquetFiles(dir: String): Int = files(dir).count(_.toString.endsWith(".parquet"))
  def delete(dir: String): Unit = {
    val p = Paths.get(dir)
    if (Files.exists(p)) {
      val s = Files.walk(p)
      try s.iterator().asScala.toVector.reverse.foreach(Files.deleteIfExists) finally s.close()
    }
  }

  def md5Hex(bytes: Array[Byte]): String = bytes.map("%02x".format(_)).mkString

  /** md5 of the concatenated `part-*` files, in name order, and their line count. */
  def partsDigest(dir: String): (String, Long) = {
    val md = java.security.MessageDigest.getInstance("MD5")
    var lines = 0L
    files(dir).filter(_.getFileName.toString.startsWith("part-")).sortBy(_.getFileName.toString)
      .foreach { f =>
        val b = Files.readAllBytes(f)
        md.update(b)
        lines += b.count(_ == '\n'.toByte)
      }
    (md5Hex(md.digest()), lines)
  }

  // ------------------------------------------------------------ session

  def session(cores: Int): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s.range(1).count() // ready = one job has run
    s
  }

  // ------------------------------------------------------------ inputs

  def writeDomainList(path: String, seed: Long): Unit = {
    val u = new Universe(UniverseSeed)
    val first = firstIndex(seed, CrawlDomains)
    val lines = (first until first + CrawlDomains).map(u.seedDomain)
    Files.createDirectories(Paths.get(path).getParent)
    Files.write(Paths.get(path), (lines.mkString("\n") + "\n").getBytes(UTF_8))
  }

  def writeDocs(spark: SparkSession, path: String, seed: Long): Unit = {
    import spark.implicits._
    val u = new Universe(UniverseSeed)
    val first = firstIndex(seed, FrontierDocs)
    val docs = (first until first + FrontierDocs).map(i =>
      Doc(f"doc-$i%010d", Seq(Span("text", u.seedDomain(i), null, 0))))
    spark.createDataset(docs).coalesce(1).write.mode("overwrite").parquet(path)
  }

  /** The 30 words every text of the sf0.1 `documents` table is drawn from. */
  private val Vocab = ("key agg row scan slow fast table value part hash merge batch spark " +
    "line sort window data column customer query order join small big stream group filter " +
    "vector the a").split(" ")
  private val Langs = Seq("en" -> 40, "de" -> 15, "es" -> 15, "fr" -> 15, "zh" -> 15)

  /** The `documents` table the curation queries read, drawn to the shape of
    * the repository's sf0.1 `documents` table at a tenth of its 5,000 rows
    * (the figures are in perfbench/README.md): each text is 10 to 100 words
    * drawn uniformly from [[Vocab]]; the language label is en for 40% of
    * rows and de, es, fr or zh for 15% each, independent of the text; the
    * source is `src<doc_id mod 20>`. Then exactly 5% of the documents, in
    * id order, become a copy of another document's current text (a copy
    * included) with " dup" appended: the near-duplicates, copies of copies
    * and exact duplicates that the dedup, cluster and similarity operators
    * find.
    */
  def writeDocuments(spark: SparkSession, path: String, seed: Long): Unit = {
    import spark.implicits._
    val rng = new java.util.SplittableRandom(seed)
    val texts = Array.fill(CurationDocs)(
      Seq.fill(10 + rng.nextInt(91))(Vocab(rng.nextInt(Vocab.length))).mkString(" "))
    val langs = Array.fill(CurationDocs) {
      var pick = rng.nextInt(100)
      Langs.find { case (_, w) => pick -= w; pick < 0 }.get._1
    }
    val copies = new scala.util.Random(rng.nextLong())
      .shuffle((0 until CurationDocs).toVector).take(CurationDocs / 20).sorted
    copies.foreach { i =>
      val j = (i + 1 + rng.nextInt(CurationDocs - 1)) % CurationDocs
      texts(i) = texts(j) + " dup"
    }
    (0 until CurationDocs).map(i =>
      (i.toLong, texts(i), langs(i), s"src${i % 20}", texts(i).length.toLong))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .coalesce(1).write.mode("overwrite").parquet(path)
  }

  // ------------------------------------------------------------ workloads

  abstract class Workload(val spark: SparkSession, val run: String, val seed: Long,
      val cores: Int) {
    /** Untimed: builds the inputs the program receives. */
    def prepare(): Unit
    /** One closed-loop call through the program's entry point. */
    def iterate(k: Int): Iter
    /** Set-up after the session is ready, timed into `setup_s`: calls
      * that pay the JIT and codegen warming the measured calls then skip.
      */
    def warmup(): Unit
    /** Check values for run.py, beyond the per-call ones. */
    def finalCheck(): Map[String, Any] = Map.empty
    /** One traced call, then the per-layer passes: per-layer metrics.
      * `before` holds the walls of the untraced calls made before it.
      */
    def traced(tracer: Tracer, before: Seq[Double]): Seq[(String, Double)]

    /** Tracing overhead: the traced call's wall minus the median untraced
      * wall of the calls around it (those before, and one more after with
      * the listener detached), so the JIT's drift from call to call cancels.
      */
    protected def overhead(tracer: Tracer, before: Seq[Double], traced: Double): Double = {
      val sc = spark.sparkContext
      sc.removeSparkListener(tracer)
      val after = try iterate(before.length).wall finally sc.addSparkListener(tracer)
      traced - median(before :+ after)
    }
  }

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.length % 2 == 1) s(s.length / 2) else (s(s.length / 2 - 1) + s(s.length / 2)) / 2
  }

  private def noop(ds: Dataset[_]): Unit = ds.write.format("noop").mode("overwrite").save()

  /** `.txt` seed list → `CrawlMain <list> --out DIR` → JSON lines. */
  final class CrawlJsonl(spark: SparkSession, run: String, seed: Long, cores: Int)
      extends Workload(spark, run, seed, cores) {
    import spark.implicits._
    val input = s"$run/input/domains.txt"
    private var frontierCheck: Option[Map[String, Any]] = None

    def prepare(): Unit = writeDomainList(input, seed)

    /** One CrawlMain call; its items are the output's lines. */
    private def crawl(out: String, work: String): Iter = {
      val (_, wall, cpu) = timed(CrawlMain.main(Array(input, "--out", out, "--work", work)))
      val (digest, lines) = partsDigest(out)
      val disk = dirBytes(out) + dirBytes(work)
      delete(work)
      spark.catalog.clearCache()
      Iter(wall, cpu, lines, disk, Map("digest" -> digest))
    }

    /** The first calls after a JVM start speed up while the JIT settles
      * (about 10, 4.6, 4.0, then 3.3 s on 4 cores): warming with two leaves
      * one slower call to the measured ones, which their median drops.
      */
    def warmup(): Unit = (1 to 2).foreach { _ =>
      crawl(s"$run/wout", s"$run/wwork")
      delete(s"$run/wout")
    }

    def iterate(k: Int): Iter = {
      val out = s"$run/out$k"
      val it = crawl(out, s"$run/work$k")
      // call 0's output stays for run.py's line-by-line check; the others
      // are identical exactly when their digests are
      if (k > 0) delete(out)
      it
    }

    override def finalCheck(): Map[String, Any] =
      Map("input" -> input, "output" -> s"$run/out0") ++ frontierCheck.map("frontier" -> _)

    def traced(tracer: Tracer, before: Seq[Double]): Seq[(String, Double)] = {
      val sc = spark.sparkContext
      val wall = Tracer.span(sc, "crawl")(crawl(s"$run/tout", s"$run/twork"))._1.wall
      delete(s"$run/tout")
      tracer.drain(sc)
      val counters = tracer.metrics(Seq("crawl"), "spark")
      val traceOverhead = overhead(tracer, before, wall)
      val layers = crawlLayers(tracer)
      val additive = Seq("canon.s", "engine.to_frontier.s", "probes.s", "spans.json.s",
        "sink.text_write.s")
      val layerSum = layers.collect { case (n, v) if additive.contains(n) => v }.sum
      val leg = new FrontierLeg(spark, run, seed, cores)
      leg.prepare()
      val (frontier, check) = leg.engineLeg(tracer)
      frontierCheck = Some(check)

      // single-threaded baseline: the same call on a local[1] session
      spark.stop()
      val one = session(1)
      val wall1 = crawl(s"$run/out1core", s"$run/work1core").wall
      delete(s"$run/out1core")
      one.stop()

      counters ++ layers ++ frontier ++ Seq(
        "wall.unattributed.s" -> (wall - layerSum),
        "trace.wall_s" -> wall,
        "trace.overhead_s" -> traceOverhead,
        // 4-core domains/s ÷ (4 × 1-core domains/s), on the same input
        "crawl.core_efficiency" -> wall1 / (cores * median(before)))
    }

    /** Each crawl layer timed alone, on its materialized input. */
    private def crawlLayers(tracer: Tracer): Seq[(String, Double)] = {
      val sc = spark.sparkContext
      val cfg = CrawlConfig()
      val eng = new Engine(spark, new Universe(UniverseSeed), cfg, workDir = s"$run/lwork")
      val lines = spark.read.text(input).select(trim(col("value")).as("domain"))
        .where(length(col("domain")) > 0).cache()
      val nLines = lines.count().toDouble
      val (_, canonS) = Tracer.span(sc, "canon")(
        noop(lines.select(Canon.canonicalizeDomainCol(col("domain")))))
      val seeds = lines.withColumn("seq", xxhash64(col("domain"))).as[(String, Long)].cache()
      seeds.count()
      val (_, frontierS) = Tracer.span(sc, "to_frontier")(noop(eng.toFrontier(seeds)))
      val frontier = eng.toFrontier(seeds).cache()
      val nUnique = frontier.count()
      val (_, probesS) = Tracer.span(sc, "probes")(eng.crawlEntries(frontier).count())
      val results = eng.crawlEntries(frontier).rdd.persist(StorageLevel.MEMORY_ONLY)
      results.count()
      val (_, jsonS) = Tracer.span(sc, "json")(results.foreach(r => JsonSink.toJson(r, cfg)))
      val json = results.map(r => JsonSink.toJson(r, cfg)).persist(StorageLevel.MEMORY_ONLY)
      val jsonBytes = json.map(_.getBytes(UTF_8).length.toLong).reduce(_ + _)
      val (_, textS) = Tracer.span(sc, "text_write")(
        spark.createDataset(json).write.mode("overwrite").text(s"$run/ltext"))
      Seq(lines, seeds, frontier).foreach(_.unpersist())
      Seq(results, json).foreach(_.unpersist())
      Seq(s"$run/lwork", s"$run/ltext").foreach(delete)
      Seq(
        "canon.s" -> canonS,
        "engine.to_frontier.s" -> frontierS,
        "engine.to_frontier.unique_ratio" -> nUnique / nLines,
        "probes.s" -> probesS,
        "probes.core_ms_per_domain" -> tracer.cpuSeconds("probes") * 1000 / nUnique,
        "spans.json.s" -> jsonS,
        "spans.json.bytes_per_domain" -> jsonBytes.toDouble / nUnique,
        "sink.text_write.s" -> textS)
    }
  }

  /** The frontier leg of a traced `crawl_jsonl` run: an interleaved-docs
    * parquet crawled with discovery, as `CrawlMain <docs> --format parquet
    * --discover-depth 1 --partitions nproc` would, through the engine that
    * command builds.
    */
  final class FrontierLeg(spark: SparkSession, run: String, seed: Long, cores: Int) {
    import spark.implicits._
    val input = s"$run/input/docs.parquet"
    def prepare(): Unit = writeDocs(spark, input, seed)

    /** Check values of one committed crawl: the pop-order digest over
      * (domain, pop_round, pop_rank) and its invariants.
      */
    private def check(work: String, out: String): Map[String, Any] = {
      val rows = new SnapTable(spark, s"$work/results", Seq("domain")).read().get
        .select("domain", "pop_round", "pop_rank").as[(String, Int, Long)]
        .collect().sortBy(r => (r._2, r._3))
      val md = java.security.MessageDigest.getInstance("MD5")
      rows.foreach { case (d, r, n) => md.update(s"$d|$r|$n\n".getBytes(UTF_8)) }
      Map(
        "digest" -> md5Hex(md.digest()),
        "crawled" -> rows.length,
        "duplicate_domains" -> (rows.length - rows.map(_._1).distinct.length),
        "rounds_with_rank_gaps" -> rows.groupBy(_._2).count { case (_, rs) =>
          rs.map(_._3).sorted.toSeq != (1L to rs.length.toLong) },
        "output_rows" -> spark.read.parquet(out).count())
    }

    /** The engine, called directly so the per-round phases it returns are
      * visible: per-layer metrics and the check values of the committed crawl.
      */
    def engineLeg(tracer: Tracer): (Seq[(String, Double)], Map[String, Any]) = {
      val sc = spark.sparkContext
      val (out, work) = (s"$run/fout", s"$run/fwork")
      val cfg = CrawlConfig()
      val u = new Universe(UniverseSeed)
      val dcfg = Engine.DiscoveryConfig.on.copy(maxDepth = DiscoverDepth)
      def docs = {
        val raw = spark.read.parquet(input)
        raw.select(raw("doc_id").cast("string").as("doc_id"), raw("spans")).as[Doc]
      }
      val ((stats, writeS), wall) = Tracer.span(sc, "frontier") {
        val eng = new Engine(spark, u, cfg, workDir = work, frontierPartitions = cores,
          probeService = u, discovery = dcfg, clock = Engine.Clock.fixed)
        val stats = eng.run(docs)
        val writeS = timed(eng.resultsTable.read().get
          .select("result.*").write.mode("overwrite").parquet(out))._2
        (stats, writeS)
      }
      tracer.drain(sc)
      val jobs = tracer.metrics(Seq("frontier"), "spark").toMap.apply("spark.jobs")
      val c = check(work, out)

      val rounds = stats.length.toDouble
      val roundWall = stats.map(_.seconds).sum
      val phases = PhaseNames.map(p =>
        s"engine.phase.$p.s" -> stats.map(_.phases.getOrElse(p, 0.0)).sum)
      val admitted = stats.map(_.admitted).sum.toDouble
      val discovered = stats.map(_.discovered).sum.toDouble
      // least-squares fit of round wall against domains crawled in the round
      val (xs, ys) = (stats.map(_.crawled.toDouble), stats.map(_.seconds))
      val (mx, my) = (xs.sum / rounds, ys.sum / rounds)
      val sxx = xs.map(x => (x - mx) * (x - mx)).sum
      val slope =
        if (sxx > 0) xs.zip(ys).map { case (x, y) => (x - mx) * (y - my) }.sum / sxx else 0.0

      // offered = seed rows in the docs, and hosts the depth-0 (seed)
      // results offer to discovery; admitted = what the rounds took in
      val eng = new Engine(spark, u, cfg, workDir = s"$run/lwork")
      val seedsOffered = eng.extractSeeds(docs).count().toDouble
      val seedResults = eng.crawlEntries(eng.toFrontier(eng.extractSeeds(docs)))
      val offeredDisc = seedResults
        .map(r => Engine.discoveredHosts(r, r.domain, dcfg).length.toLong).reduce(_ + _)
      // the two encodings the commit phases pay, each timed alone over
      // the committed domains' materialized results
      val committed = spark.read.parquet(out).select(col("domain"), xxhash64(col("domain")))
        .as[(String, Long)]
      val results = eng.crawlEntries(eng.toFrontier(committed)).rdd
        .persist(StorageLevel.MEMORY_ONLY)
      results.count()
      val (_, codecS) = Tracer.span(sc, "codec")(results.foreach(r => SpanCodec.encode(r)))
      val (_, tungstenS) = Tracer.span(sc, "tungsten")(noop(spark.createDataset(results)))
      results.unpersist()
      val tables = Tables.flatMap(t => Seq(
        s"tables.$t.bytes" -> dirBytes(s"$work/$t/data").toDouble,
        s"tables.$t.files" -> parquetFiles(s"$work/$t/data").toDouble))
      val filterBytes = dirBytes(s"$work/filters").toDouble
      Seq(out, work, s"$run/lwork").foreach(delete)
      spark.catalog.clearCache()

      val metrics = phases ++ tables ++ Seq(
        "engine.phase.unattributed.s" -> (roundWall - phases.map(_._2).sum),
        "engine.rounds" -> rounds,
        "engine.crawled" -> stats.map(_.crawled).sum.toDouble,
        "engine.discovered" -> discovered,
        "engine.round_fixed_s" -> (my - slope * mx),
        "engine.round_ms_per_domain" -> slope * 1000,
        "engine.admit_ratio" -> admitted / seedsOffered,
        "engine.discover_admit_ratio" -> discovered / offeredDisc,
        "frontier.filter_snapshot_bytes" -> filterBytes,
        "frontier.filter_bytes_per_key" -> filterBytes / (admitted + discovered),
        "spans.codec.s" -> codecS,
        "encode.tungsten.s" -> tungstenS,
        "sink.parquet_write.s" -> writeS,
        "spark.jobs_per_round" -> jobs / rounds,
        "frontier.wall_s" -> wall,
        "frontier.unattributed.s" -> (wall - roundWall - writeS))
      (metrics, c)
    }
  }

  /** The five ops-layer queries through `SparkEntry.queries`, each written
    * to the noop sink.
    */
  final class CurationQueries(spark: SparkSession, run: String, seed: Long, cores: Int)
      extends Workload(spark, run, seed, cores) {
    val dir = s"$run/input/sf"
    val checkDir = s"$run/check"
    def prepare(): Unit = writeDocuments(spark, s"$dir/documents.parquet", seed)

    private def query(q: String) = SparkEntry.queries(q)(spark, dir)

    /** The warm-up pass writes each result as parquet: the outputs that
      * the correctness gate hashes.
      */
    def warmup(): Unit = Queries.foreach { q =>
      query(q).write.mode("overwrite").parquet(s"$checkDir/$q")
      spark.catalog.clearCache()
    }

    def iterate(k: Int): Iter = {
      val (_, wall, cpu) = timed(Queries.foreach { q =>
        noop(query(q))
        spark.catalog.clearCache()
      })
      Iter(wall, cpu, CurationDocs.toLong, Queries.map(q => dirBytes(s"$checkDir/$q")).sum,
        Map.empty)
    }

    override def finalCheck(): Map[String, Any] = Map(
      "documents" -> s"$dir/documents.parquet",
      "outputs" -> Queries.map(q => q -> s"$checkDir/$q").toMap,
      "oracle_sql" -> Queries.map(q => q -> SparkEntry.oracleSql(q)).toMap)

    def traced(tracer: Tracer, before: Seq[Double]): Seq[(String, Double)] = {
      val sc = spark.sparkContext
      val (times, wall, _) = timed(Queries.map { q =>
        val (_, s) = Tracer.span(sc, q)(noop(query(q)))
        spark.catalog.clearCache()
        q -> s
      })
      tracer.drain(sc)
      val traceOverhead = overhead(tracer, before, wall)
      val ops = times.flatMap { case (q, s) =>
        val m = tracer.metrics(Seq(q), s"ops.$q").toMap
        (s"ops.$q.s" -> s) +: Seq("jobs", "stages", "shuffle_bytes", "spill_bytes")
          .map(k => s"ops.$q.$k" -> m(s"ops.$q.$k")) :+
          (s"ops.$q.rows" -> spark.read.parquet(s"$checkDir/$q").count().toDouble)
      }
      tracer.metrics(Queries, "spark") ++ ops ++ Seq(
        "wall.unattributed.s" -> (wall - times.map(_._2).sum),
        "trace.wall_s" -> wall,
        "trace.overhead_s" -> traceOverhead)
    }
  }

  // ------------------------------------------------------------ main

  /** Closed loop: calls until `seconds` have passed and at least
    * `minCalls` calls were made.
    */
  def loop(w: Workload, seconds: Double, minCalls: Int): Seq[Iter] = {
    val t0 = System.nanoTime()
    val iters = Seq.newBuilder[Iter]
    var k = 0
    while (k < minCalls || (System.nanoTime() - t0) / 1e9 < seconds) {
      iters += w.iterate(k)
      k += 1
    }
    iters.result()
  }

  def peakRssMb(): Double =
    Files.readAllLines(Paths.get("/proc/self/status")).asScala
      .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toDouble / 1024).getOrElse(0.0)

  def main(args: Array[String]): Unit = {
    val Array(workload, seedArg, secondsArg, traceArg, run, resultFile) = args
    val (seed, seconds, trace) = (seedArg.toLong, secondsArg.toDouble, traceArg == "1")
    val cores = sys.env.get("SPARK_GRAFT_CPUS").map(_.toInt)
      .getOrElse(Runtime.getRuntime.availableProcessors)
    val jvmToMain =
      (System.currentTimeMillis() - ManagementFactory.getRuntimeMXBean.getStartTime) / 1e3

    // set-up, several times: each builds the session and runs a first job
    val sessionSecs = (1 to SessionSetups).map { k =>
      if (k > 1) SparkSession.getDefaultSession.foreach(_.stop())
      timed(session(cores))._2
    }
    val spark = SparkSession.getDefaultSession.get
    val w = workload match {
      case "crawl_jsonl" => new CrawlJsonl(spark, run, seed, cores)
      case "curation_queries" => new CurationQueries(spark, run, seed, cores)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }
    w.prepare()
    val warmupSecs = timed(w.warmup())._2

    val (iters, layers) =
      if (!trace) (loop(w, seconds, MinCalls), Seq.empty)
      else {
        val untraced = loop(w, seconds / 2, 1)
        val tracer = new Tracer
        spark.sparkContext.addSparkListener(tracer)
        (untraced, w.traced(tracer, untraced.map(_.wall)))
      }
    val result = Map(
      "workload" -> workload, "seed" -> seed, "cores" -> cores,
      "setup" -> Map("jvm_to_main_s" -> jvmToMain, "session_s" -> sessionSecs,
        "warmup_s" -> warmupSecs),
      "iterations" -> iters.map(i => Map("wall_s" -> i.wall, "cpu_s" -> i.cpu,
        "items" -> i.items, "disk_bytes" -> i.diskBytes, "check" -> i.check)),
      "check" -> w.finalCheck(),
      "peak_rss_mb" -> peakRssMb(),
      "layers" -> layers.toMap)
    Files.write(Paths.get(resultFile), Json(result).getBytes(UTF_8))
    SparkSession.getDefaultSession.foreach(_.stop())
  }
}

/** Minimal JSON writer for the result file. */
object Json {
  def apply(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => apply(x)
    case s: String => quote(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case n: Int => n.toString
    case n: Long => n.toString
    case m: Map[_, _] => m.map { case (k, x) => quote(k.toString) + ":" + apply(x) }
      .mkString("{", ",", "}")
    case s: Iterable[_] => s.map(apply).mkString("[", ",", "]")
    case other => quote(other.toString)
  }

  private def quote(s: String): String = {
    val sb = new StringBuilder("\"")
    s.foreach {
      case '"' => sb ++= "\\\""
      case '\\' => sb ++= "\\\\"
      case '\n' => sb ++= "\\n"
      case '\r' => sb ++= "\\r"
      case '\t' => sb ++= "\\t"
      case c if c < ' ' => sb ++= f"\\u${c.toInt}%04x"
      case c => sb += c
    }
    sb += '"'
    sb.toString
  }
}
