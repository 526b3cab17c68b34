package perfbench

import graft.SparkEntry
import graft.core._
import graft.corpus.{Corpus, CorpusParams}
import graft.engine.{CrawlEngine, EngineConfig}
import graft.oracle.CrawlOracle
import graft.state.SnapshotStore
import java.nio.file.{Files, Path, Paths}
import org.apache.spark.scheduler._
import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.functions.sum
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener
import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** JVM side of the benchmark: runs one workload, checks its outputs and
  * writes the raw samples, counts, checks and (when traced) spans and
  * listener events as one JSON file. Every metric is computed from that
  * file by `metrics.py`; nothing here aggregates beyond plain sums.
  *
  * Usage (normally launched by `run.py`):
  * {{{
  * PerfBench workload=<crawl_wide|query_suite|record> seed=<n> seconds=<s>
  *   trace=<0|1> cores=<n> work=<dir> data=<sf dir> out=<json> t0ms=<epoch ms>
  * }}}
  */
object PerfBench {

  // ---------------------------------------------------------------- shapes

  /** crawl_wide corpus hosts (see README.md for the sizing). */
  val WideHosts = 1000
  /** Batches per drain. The first two batches of this shape claim every
    * host's seed, then every host's second page, on every seed, so the
    * window does the same work whatever the seed.
    */
  val WideBatches = 2
  /** Drains inside the timed window, each on a fresh store;
    * `throughput_per_s` takes their median. The JVM is still warming up
    * over the first few drains (the second drain in a JVM ranged 10-14 s
    * between identical runs), so the timed drains come after the warm-up
    * drain and the read phase. A third would take ~13 s a run, more than
    * the time budget of about 70 s a run leaves.
    */
  val TimedDrains = 2
  /** Set-up rounds (fresh store, engine, warmCorpus, seed), one per
    * drain; setup_s takes their median. The first round's engine runs the
    * untimed warm-up drain, whose store the read phase then reads; the
    * other rounds' engines run the timed drains.
    */
  val SetupRepeats = 1 + TimedDrains
  /** Read-phase floor: at least this many timed closed-loop cycles of the
    * five reads, whatever the window. They follow one untimed cycle: the
    * first read on a freshly resumed engine plans and compiles its query
    * and took 2-3 times as long as the later ones.
    */
  val MinReadCycles = 4

  // ------------------------------------------------------------------ main

  def main(argv: Array[String]): Unit = {
    val a = argv.map { kv => val i = kv.indexOf('='); kv.take(i) -> kv.drop(i + 1) }.toMap
    val workload = a("workload")
    val cores = a("cores").toInt
    val work = Paths.get(a("work")).toAbsolutePath
    Files.createDirectories(work)
    val tr = new Trace(a.getOrElse("trace", "0") == "1")
    val out = mutable.LinkedHashMap[String, Any](
      "workload" -> workload, "seed" -> a.getOrElse("seed", "0").toLong,
      "trace" -> tr.on, "cores" -> cores)
    val spark = session(cores, work, adaptive = workload != "crawl_wide")
    // INFO logs a few lines per task, ~15k lines a run, on the driver
    spark.sparkContext.setLogLevel("WARN")
    out("session_s") = (System.currentTimeMillis() - a("t0ms").toLong) / 1e3
    val events = new Events
    tr.onToggle = { enable =>
      if (enable) {
        spark.sparkContext.addSparkListener(events)
        spark.listenerManager.register(events.plans)
      } else {
        spark.sparkContext.removeSparkListener(events)
        spark.listenerManager.unregister(events.plans)
      }
    }
    if (tr.on) tr.onToggle(true)
    try {
      workload match {
        case "crawl_wide" =>
          crawlWide(spark, tr, a("seed").toLong, a("seconds").toDouble, work, out)
        case "query_suite" =>
          querySuite(spark, tr, a("seed").toLong, a("seconds").toDouble, a("data"),
            cores, out)
        case "record" =>
          record(spark, a("data"), Paths.get(a("record")), out)
        case w => sys.error(s"unknown workload $w")
      }
      if (tr.on) {
        Thread.sleep(1000) // the listener bus is asynchronous; let it drain
        out("spans") = tr.spans.map(_.toMap)
        out("jobs") = events.jobs.asScala.toSeq
        out("stages") = events.stages.asScala.toSeq
        out("plans") = events.plans.rows.asScala.toSeq
      }
      out("samples") = tr.samples.map { case (k, v) => k -> v.toSeq }
      out("peak_rss_mb") = vmHwmMb()
      Files.writeString(Paths.get(a("out")), Json.render(out))
    } finally spark.stop()
  }

  private def session(cores: Int, work: Path, adaptive: Boolean): SparkSession =
    SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.broadcastTimeout", "3600")
      // the same split graft.Bench makes: AQE on for the query suite,
      // off (shuffled hash join, 64 MB broadcast) for the crawl drain
      .config("spark.sql.adaptive.enabled", adaptive)
      .config("spark.sql.join.preferSortMergeJoin", adaptive)
      .config("spark.sql.autoBroadcastJoinThreshold",
        if (adaptive) "10485760" else "67108864")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .getOrCreate()

  /** Peak resident set of this JVM (VmHWM), in MB. */
  private def vmHwmMb(): Double =
    Files.readAllLines(Paths.get("/proc/self/status")).asScala
      .find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toDouble / 1024).getOrElse(0.0)

  // ------------------------------------------------------------ crawl_wide

  private def crawlWide(spark: SparkSession, tr: Trace, seed: Long,
      seconds: Double, work: Path, out: mutable.Map[String, Any]): Unit = {
    import spark.implicits._
    // graft.Bench's crawl shape, scaled to a run of this benchmark
    val p = CorpusParams(seed = seed.toInt, numHosts = WideHosts,
      pagesPerHost = 2, skewHosts = 1, skewFactor = 5, outdegree = 2)
    // 8 buckets, not the default 32: at this size a batch's cost is mostly
    // per-leaf write and commit overhead, which 32 buckets quadruples
    val cfg = EngineConfig(numBuckets = 8, maxDepth = 2, maxBatches = WideBatches)
    val robots = Corpus.robots(p)
    val pages = tr.span("corpus.build") {
      spark.range(p.totalPages).mapPartitions(it => it.map(i => Corpus.pageAt(p, i)))
        .localCheckpoint()
    }
    val seeds = spark.range(p.numHosts.toLong).map(i => (i.toLong, Corpus.seedAt(i)))

    // the oracle is the checker: single-threaded, outside every timed span
    val allPages = Corpus.allPages(p)
    val oracle = new CrawlOracle(allPages.map(pg => pg.url_hash -> pg).toMap,
      robots.map(r => r.host -> r).toMap, cfg.userAgent, cfg.maxRetries,
      cfg.maxRedirects, cfg.maxDepth)
    oracle.submitSeeds(Corpus.seeds(p))
    oracle.runDrain(WideBatches)

    // set-up, repeated: each round is a fresh store, engine, warmCorpus
    // and seed
    val rounds = (1 to SetupRepeats).map { _ =>
      val dir = Files.createTempDirectory(work, "store")
      val store = new SnapshotStore(dir.toString)
      val engine = new CrawlEngine(spark, store, pages, robots, cfg)
      val t0 = System.nanoTime()
      tr.span("engine.warm_corpus")(engine.warmCorpus())
      tr.span("engine.seed")(engine.seed(seeds))
      tr.sample("setup.drain_setup", (System.nanoTime() - t0) / 1e9)
      (dir, store, engine)
    }
    /** Runs the drain's batches; returns how many ran. */
    def drain(e: CrawlEngine): Int = {
      var ran = 0
      while (ran < WideBatches &&
          tr.span("engine.step")(e.step(prefetchNext = ran + 1 < WideBatches))) ran += 1
      ran
    }

    val checks = mutable.ArrayBuffer[Map[String, Any]]()
    /** Records one output check; `rows` is how many rows the call returned. */
    def check(what: String, expected: Any, rows: Any => Int = _ => 0)(actual: => Any): Unit = {
      val (got, n) = try { val v = actual; (Json.render(v), rows(v)) } catch {
        case e: Throwable => (s"error: ${e.getClass.getSimpleName}: ${e.getMessage}", 0)
      }
      checks += Map("what" -> what, "expected" -> Json.render(expected), "actual" -> got,
        "rows" -> n, "run" -> tr.run)
    }
    def size(v: Any): Int = v match {
      case m: scala.collection.Map[_, _] => m.size
      case xs: Iterable[_] => xs.size
      case _ => 1
    }

    // what the reads must return, from the oracle
    val domain = Corpus.host(1)
    val expStats = oracle.statusCounts.map { case (k, v) => k -> v.toLong }
    val expList = oracle.frontier.values.toSeq
      .sortBy(r => (-r.priority, r.urlHash)).take(50).map(_.urlHash)
    val expLinks = oracle.links.values.count(_.domain == domain).toLong
    val expAgg = oracle.links.values.groupBy(_.domain).toSeq
      .map { case (d, ls) => (d, ls.size.toLong) }
      .sortBy { case (d, n) => (-n, d) }.take(100).map { case (d, n) => s"$d=$n" }
    val expClaims = oracle.claimLog.size.toLong

    tr.run = "warmup"
    val t0w = System.nanoTime()
    drain(rounds.head._3)
    out("warmup_s") = (System.nanoTime() - t0w) / 1e9

    // ---- timed window: closed-loop reads of the warm-up drain's store,
    // then the timed drains
    tr.run = "timed"
    val t0 = System.nanoTime()
    def elapsed = (System.nanoTime() - t0) / 1e9
    val (_, readStore, _) = rounds.head

    // the read phase: a fresh engine resumes the drained store, then one
    // client runs the five reads in a closed loop
    val latest = tr.span("state.latest")(readStore.latest())
    val reader = new CrawlEngine(spark, readStore, pages, robots, cfg)
    tr.span("state.resume")(reader.resume())
    val reads: Seq[() => Unit] = Seq(
      () => check("read.frontier_stats", expStats, size) {
        tr.span("read.frontier_stats")(reader.frontierStats())
      },
      () => check("read.frontier_list", expList, size) {
        tr.span("read.frontier_list")(reader.frontierList(limit = 50).collect().toSeq)
          .map(_.url_hash)
      },
      // rows returned: the page plus the total-count row
      () => check("read.links_by_domain", Seq(math.min(50L, expLinks), expLinks),
        v => v.asInstanceOf[Seq[Long]].head.toInt + 1) {
        tr.span("read.links_by_domain") {
          val (page, total) = reader.linksByDomain(domain)
          Seq(page.collect().length.toLong, total)
        }
      },
      () => check("read.domain_aggregates", expAgg, size) {
        tr.span("read.domain_aggregates")(reader.domainAggregates().collect().toSeq)
          .map(r => s"${r.getAs[String]("domain")}=${r.getAs[Long]("link_count")}")
      },
      () => check("read.claim_log", expClaims, size) {
        tr.span("read.claim_log")(reader.claimLog().count())
      })

    tr.run = "warmup"
    reads.foreach(_())
    tr.run = "timed"
    // a further cycle starts only if it and the drains (each taking no
    // longer than the warm-up drain) still fit the window
    val drainsLeft = TimedDrains * out("warmup_s").asInstanceOf[Double]
    var cycles = 0
    var lastCycle = 0.0
    while (cycles < MinReadCycles || elapsed + lastCycle + drainsLeft <= seconds) {
      val c0 = System.nanoTime()
      reads.foreach(_())
      lastCycle = (System.nanoTime() - c0) / 1e9
      cycles += 1
    }

    val timed = rounds.takeRight(TimedDrains)
    val drains = timed.map { case (_, _, engine) =>
      val d0 = System.nanoTime()
      var ran = 0
      val fetched = tr.span("drain") {
        ran = drain(engine)
        tr.span("engine.frontier_count") {
          engine.frontier().filter($"status" === FrontierStatus.Fetched).count()
        }
      }
      Map("wall_s" -> (System.nanoTime() - d0) / 1e9, "fetched" -> fetched, "batches" -> ran)
    }
    out("drains") = drains
    val (dir, _, engine) = rounds.last
    out("window_s") = elapsed
    tr.overhead(reads)
    tr.run = "check"

    // ---- every timed drain's outputs against the oracle (untimed)
    def claimOrder(c: ClaimLogEntry) = (c.batch_id, -c.priority, c.next_fetch_at, c.url_hash)
    def claimLines(cs: Seq[ClaimLogEntry]) =
      cs.sortBy(claimOrder).map(c => s"${c.batch_id}:${c.url_hash}")
    val expBatches = oracle.claimLog.map(_.batch_id).distinct.size.toLong
    val expClaimLog = Digest.of(claimLines(oracle.claimLog.toSeq))
    val expSeen = Digest.of(oracle.seenSet.toSeq.sorted)
    timed.zip(drains).foreach { case ((_, _, e), d) =>
      check("crawl.batches", expBatches)(d("batches"))
      check("crawl.claim_log_digest", expClaimLog) {
        Digest.of(claimLines(e.claimLog().as[ClaimLogEntry].collect().toSeq))
      }
      check("crawl.seen_set_digest", expSeen) {
        Digest.of(e.frontier().map(_.url_hash).collect().toSeq.sorted)
      }
    }
    out("checks") = checks.toSeq

    // ---- counts for the per-layer metrics, from the last timed drain
    val lin = engine.lineage()
      .agg(sum("urls_discovered"), sum("urls_fetched"), sum("urls_deduped"))
      .as[(Option[Long], Option[Long], Option[Long])].collect().head
    val m = latest.get
    val live = (m.buckets.values ++ m.tables.values).map(p => Paths.get(p)).toSeq
    val chains = m.buckets.keys.filterNot(_.endsWith("/p"))
      .groupBy(_.takeWhile(_ != '/')).values.map(_.size)
    out("counts") = Map(
      "claims" -> engine.claimLog().count(),
      "fetched" -> drains.last("fetched"),
      "lineage_discovered" -> lin._1.getOrElse(0L),
      "lineage_fetched" -> lin._2.getOrElse(0L),
      "lineage_deduped" -> lin._3.getOrElse(0L),
      "store_bytes" -> dirBytes(dir),
      "store_files" -> Files.walk(dir).iterator().asScala
        .count(f => Files.isRegularFile(f) && f.getFileName.toString.endsWith(".parquet")),
      "live_bytes" -> live.map(dirBytes).sum,
      "max_settled_chain" -> (if (chains.isEmpty) 0 else chains.max))

    if (tr.on) {
      // core layer: the drain's own URLs, links and robots rows, timed
      // on the driver outside the Spark plan
      val urls = allPages.map(_.url) ++
        allPages.flatMap(_.links).filter(_.startsWith("http"))
      val paths = allPages.map(pg => pg.host -> pg.url.stripPrefix(s"https://${pg.host}"))
      out("core") = Core.bench(tr, urls, robots, paths)
    }
  }

  private def dirBytes(p: Path): Long =
    if (!Files.exists(p)) 0L
    else Files.walk(p).iterator().asScala.filter(Files.isRegularFile(_))
      .map(Files.size).sum

  // ----------------------------------------------------------- query_suite

  private def querySuite(spark: SparkSession, tr: Trace, seed: Long,
      seconds: Double, data: String, cores: Int,
      out: mutable.Map[String, Any]): Unit = {
    val names = SparkEntry.queries.keys.toSeq.sorted
    val execs = mutable.ArrayBuffer[Map[String, Any]]()
    def exec(name: String): Unit = {
      val res = try Right(tr.span(s"query.$name") {
        SparkEntry.queries(name)(spark, data).collect()
      }) catch { case e: Throwable => Left(s"error: ${e.getClass.getSimpleName}: ${e.getMessage}") }
      execs.synchronized {
        execs += Map("what" -> s"query.$name",
          "actual" -> res.fold(identity, rows => Digest.ofRows(rows.toSeq)))
      }
    }

    // untimed warm-up: every query once, `cores` at a time
    tr.run = "warmup"
    val t0w = System.nanoTime()
    val pool = java.util.concurrent.Executors.newFixedThreadPool(cores)
    try {
      names.map(n => pool.submit(new Runnable { def run(): Unit = exec(n) }))
        .foreach(_.get())
    } finally pool.shutdown()
    out("warmup_s") = (System.nanoTime() - t0w) / 1e9

    // timed passes in seed-permuted order; a further pass starts only if
    // the previous pass's wall still fits the window
    tr.run = "timed"
    val rng = new scala.util.Random(seed)
    val t0 = System.nanoTime()
    def elapsed = (System.nanoTime() - t0) / 1e9
    var pass = 0
    var lastPass = 0.0
    while (pass == 0 || elapsed + lastPass <= seconds) {
      pass += 1
      val p0 = System.nanoTime()
      tr.span("pass")(rng.shuffle(names).foreach(exec))
      lastPass = (System.nanoTime() - p0) / 1e9
    }
    out("window_s") = elapsed
    out("passes") = pass
    tr.overhead(names.grouped(4).map(_.head).map(n => () => exec(n)).toSeq)
    out("checks") = execs.toSeq

    if (tr.on) {
      // core layer over the suite's own URL inputs: q11-q13's dirty URLs
      val partNames = spark.read.parquet(s"$data/part.parquet")
        .select("p_name", "p_brand").collect()
      val urls = partNames.toSeq.flatMap { r =>
        Seq("HTTP://EXAMPLE.com:80/" + r.getString(0).replace(" ", "/") +
          "/?b=2&a=1&utm_source=x#frag",
          "HTTPS://" + r.getString(1).replace("#", "").toUpperCase + ".Example.COM:8443/x")
      }
      out("core") = Core.bench(tr, urls, Nil, Nil)
    }
  }

  // --------------------------------------------------------------- record

  /** Writes every query's collected rows as parquet (for the DuckDB
    * oracle check) plus oracle_sql.json, and the digest of each.
    */
  private def record(spark: SparkSession, data: String, dir: Path,
      out: mutable.Map[String, Any]): Unit = {
    Files.createDirectories(dir)
    out("digests") = SparkEntry.queries.keys.toSeq.sorted.map { name =>
      val df = SparkEntry.queries(name)(spark, data)
      val rows = df.collect()
      spark.createDataFrame(rows.toList.asJava, df.schema).coalesce(1)
        .write.mode("overwrite").parquet(dir.resolve(name).toString)
      name -> Digest.ofRows(rows.toSeq)
    }.toMap
    Files.writeString(dir.resolve("oracle_sql.json"), Json.render(SparkEntry.oracleSql))
  }
}

/** Times calls and, when tracing, records each as a span (name, start,
  * end, parent, run). Samples (run:name -> seconds) are kept either way;
  * spans are kept in memory and written out at exit. Main thread only,
  * except `span` calls from the query warm-up pool, which nest under no
  * parent.
  */
final class Trace(val on: Boolean) {
  private val offsetNs = System.currentTimeMillis() * 1000000L - System.nanoTime()
  final class Span(val id: Int, val parent: Int, val name: String,
      val run: String, val start: Double) {
    var end = 0.0
    def toMap: Map[String, Any] = Map("id" -> id, "parent" -> parent,
      "name" -> name, "run" -> run, "start" -> start, "end" -> end)
  }
  val spans = mutable.ArrayBuffer[Span]()
  /** Turns the Spark listeners off (false) and back on (true). */
  var onToggle: Boolean => Unit = _ => ()
  @volatile private var recording = on
  val samples = mutable.LinkedHashMap[String, mutable.ArrayBuffer[Double]]()
  @volatile var run = "setup"
  private val open = new ThreadLocal[List[Int]] { override def initialValue() = Nil }

  /** Epoch milliseconds with sub-millisecond resolution. */
  def nowMs(): Double = (System.nanoTime() + offsetNs) / 1e6

  private def record(enable: Boolean): Unit = { recording = enable; onToggle(enable) }

  /** Prices the tracing, in a traced run only: replays each op once with
    * spans and listeners off (run "untraced") and once traced again (run
    * "retraced"), back to back, alternating which goes first so neither
    * side always gets the warmer second run.
    */
  def overhead(ops: Seq[() => Unit]): Unit = if (on) {
    val r = run
    def as(traced: Boolean, op: () => Unit): Unit = {
      record(traced); run = if (traced) "retraced" else "untraced"; op()
    }
    try ops.zipWithIndex.foreach { case (op, i) =>
      as(i % 2 == 1, op)
      as(i % 2 == 0, op)
    } finally { record(true); run = r }
  }

  def sample(name: String, secs: Double): Unit = synchronized {
    samples.getOrElseUpdate(s"$run:$name", mutable.ArrayBuffer()) += secs
  }

  def span[T](name: String)(body: => T): T = {
    val s = if (!recording) null else synchronized {
      val sp = new Span(spans.size, open.get.headOption.getOrElse(-1), name, run, nowMs())
      spans += sp
      sp
    }
    if (s != null) open.set(s.id :: open.get)
    val t0 = System.nanoTime()
    try body
    finally {
      val secs = (System.nanoTime() - t0) / 1e9
      if (s != null) { s.end = nowMs(); open.set(open.get.tail) }
      sample(name, secs)
    }
  }
}

/** Spark job/stage/plan events, recorded only in traced runs. Times are
  * epoch milliseconds; attribution to spans happens in metrics.py.
  */
final class Events extends SparkListener {
  import java.util.concurrent.ConcurrentLinkedQueue
  val jobs = new ConcurrentLinkedQueue[Map[String, Any]]()
  val stages = new ConcurrentLinkedQueue[Map[String, Any]]()
  private val jobStarts = new java.util.concurrent.ConcurrentHashMap[Int, Long]()

  override def onJobStart(e: SparkListenerJobStart): Unit =
    jobStarts.put(e.jobId, e.time)
  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(jobStarts.remove(e.jobId)).foreach { t0 =>
      jobs.add(Map("id" -> e.jobId, "start" -> t0.toDouble, "end" -> e.time.toDouble))
    }
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val i = e.stageInfo
    val m = Option(i.taskMetrics)
    def mv(f: org.apache.spark.executor.TaskMetrics => Long): Long = m.map(f).getOrElse(0L)
    stages.add(Map(
      "id" -> i.stageId,
      "start" -> i.submissionTime.getOrElse(0L).toDouble,
      "end" -> i.completionTime.getOrElse(0L).toDouble,
      "tasks" -> i.numTasks,
      "cpu_ns" -> mv(_.executorCpuTime),
      "run_ms" -> mv(_.executorRunTime),
      "gc_ms" -> mv(_.jvmGCTime),
      "shuffle_read_bytes" -> mv(t => t.shuffleReadMetrics.totalBytesRead),
      "shuffle_write_bytes" -> mv(_.shuffleWriteMetrics.bytesWritten),
      "spill_bytes" -> mv(t => t.memoryBytesSpilled + t.diskBytesSpilled),
      "input_bytes" -> mv(_.inputMetrics.bytesRead),
      "input_rows" -> mv(_.inputMetrics.recordsRead),
      "output_bytes" -> mv(_.outputMetrics.bytesWritten),
      "output_rows" -> mv(_.outputMetrics.recordsWritten)))
  }

  /** Catalyst phase times per executed query (analysis, optimization,
    * planning), positioned at the query's first phase start.
    */
  object plans extends QueryExecutionListener {
    val rows = new ConcurrentLinkedQueue[Map[String, Any]]()
    private def add(qe: QueryExecution): Unit = {
      val ph = qe.tracker.phases.values
      if (ph.nonEmpty) rows.add(Map(
        "start" -> ph.map(_.startTimeMs).min.toDouble,
        "catalyst_ms" -> ph.map(p => p.endTimeMs - p.startTimeMs).sum.toDouble))
    }
    override def onSuccess(f: String, qe: QueryExecution, d: Long): Unit = add(qe)
    override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = add(qe)
  }
}

/** Driver-side throughput of the core functions over a workload's own
  * inputs: each op runs over the whole input repeatedly until at least
  * `MinSecs` pass, and reports operations per second.
  */
object Core {
  private val MinSecs = 0.3
  /** Where each op's results go, so the JIT cannot drop the work. */
  @volatile private var sink = 0

  private def rate(tr: Trace, name: String, n: Int)(op: Int => Any): Double = {
    if (n == 0) return 0.0
    tr.span(name) {
      var acc = 0
      var done = 0L
      val t0 = System.nanoTime()
      while ((System.nanoTime() - t0) / 1e9 < MinSecs) {
        var i = 0
        while (i < n) { acc ^= op(i).hashCode; i += 1 }
        done += n
      }
      sink = acc
      done / ((System.nanoTime() - t0) / 1e9)
    }
  }

  def bench(tr: Trace, urls: Seq[String], robots: Seq[RobotsRow],
      paths: Seq[(String, String)]): Map[String, Any] = {
    val u = urls.toArray
    val rb = robots.toArray
    val rules = rb.map(r => r.host -> RobotsRules.fromResponse(r.body, r.status_code, "graft-bot")).toMap
    // (rules, path) pairs for the hosts that serve a robots.txt
    val pp = paths.flatMap { case (h, path) => rules.get(h).map(_ -> path) }.toArray
    val keys = u.flatMap(x => UrlNormalizer.urlHash(x).toOption).distinct
    val cuckooPut = rate(tr, "core.cuckoo_put", if (keys.isEmpty) 0 else 1) { _ =>
      val f = CuckooFilter.create(keys.length.toLong)
      keys.foreach(f.put)
      f
    } * keys.length
    val filter = CuckooFilter.create(keys.length.toLong)
    keys.foreach(filter.put)
    val absent = keys.map(k => UrlNormalizer.sha256Hex("absent:" + k))
    Map(
      "inputs" -> u.length,
      "normalize_ops_s" -> rate(tr, "core.normalize", u.length)(i => UrlNormalizer.normalize(u(i))),
      "url_hash_ops_s" -> rate(tr, "core.url_hash", u.length)(i => UrlNormalizer.urlHash(u(i))),
      "extract_host_ops_s" -> rate(tr, "core.extract_host", u.length)(i => UrlNormalizer.extractHost(u(i))),
      "robots_parse_ops_s" -> rate(tr, "core.robots_parse", rb.length) { i =>
        RobotsRules.fromResponse(rb(i).body, rb(i).status_code, "graft-bot")
      },
      "robots_allowed_ops_s" ->
        rate(tr, "core.robots_allowed", pp.length)(i => pp(i)._1.isAllowed(pp(i)._2)),
      "cuckoo_put_ops_s" -> cuckooPut,
      "cuckoo_probe_ops_s" -> rate(tr, "core.cuckoo_probe", absent.length)(i => filter.mightContain(absent(i))),
      "cuckoo_fpp" -> (if (absent.isEmpty) 0.0
        else absent.count(filter.mightContain).toDouble / absent.length))
  }
}

/** Order-sensitive result digests (sha-256 hex). Rows are canonicalised
  * with their top-level columns sorted by name, the same column
  * alignment the DuckDB oracle check uses, so a column reorder alone
  * does not change a digest.
  */
object Digest {
  def of(lines: Seq[String]): String = {
    val md = java.security.MessageDigest.getInstance("SHA-256")
    lines.foreach { l => md.update(l.getBytes("UTF-8")); md.update('\n'.toByte) }
    md.digest().map(b => f"$b%02x").mkString
  }

  def ofRows(rows: Seq[Row]): String = of(rows.map { r =>
    val names = r.schema.fieldNames
    names.indices.sortBy(names(_)).map(i => canon(r.get(i))).mkString("|")
  })

  private def canon(v: Any): String = v match {
    case null => "∅"
    case r: Row => r.toSeq.map(canon).mkString("(", ",", ")")
    case m: scala.collection.Map[_, _] =>
      m.toSeq.map { case (k, x) => canon(k) + "->" + canon(x) }.sorted.mkString("{", ",", "}")
    case s: scala.collection.Seq[_] => s.map(canon).mkString("[", ",", "]")
    case b: Array[Byte] => b.map(x => f"$x%02x").mkString
    case d: java.math.BigDecimal => d.stripTrailingZeros.toPlainString
    case x => x.toString
  }
}

/** Minimal JSON writer for the raw result file. */
object Json {
  def render(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => render(x)
    case s: String => quote(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case n: Int => n.toString
    case n: Long => n.toString
    case m: scala.collection.Map[_, _] =>
      m.toSeq.map { case (k, x) => k.toString -> x }.sortBy(_._1)
        .map { case (k, x) => quote(k) + ":" + render(x) }.mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(render).mkString("[", ",", "]")
    case xs: Array[_] => render(xs.toSeq)
    case x => quote(x.toString)
  }

  def quote(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
}
