package graft.perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path, Paths}
import java.util.concurrent.{Callable, ConcurrentHashMap, ExecutorService, Executors}

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.functions._

import graft.corpus.CorpusSynthesizer
import graft.index.{IndexBuilder, IndexConfig, InvertedIndex, SegmentStore}
import graft.search.{Engine, QueryParser, ScoringRule}

/** Facts about one written store, read back from its tables and files. */
final case class StoreFacts(postings: Long, blocks: Long, terms: Long,
                            segmentBytes: Long, otherBytes: Long) {
  def bytes: Long = segmentBytes + otherBytes
}

/** One answered single-client query. */
final case class Timed(cls: String, ms: Double, traced: Boolean)

/** The two workloads. Both are closed loops: a caller sends its next
  * request only when the previous answer has been collected.
  *
  *  - bulk_build: every timed operation is one full build of the seeded
  *    corpus table (buildFromCorpus, then writeAll).
  *  - serve: set-up builds and opens the same kind of store, uncached,
  *    then one client runs single queries and a batch caller runs
  *    runQueries batches collected by `cores` threads.
  *
  * With tracing on, every per-layer metric is measured on either
  * workload: bulk_build ends with a short serve probe over its last
  * store, and serve traces its set-up build.
  */
final class Workloads(spark: SparkSession, a: Args, sizes: Sizes, cores: Int,
                      trace: Trace, out: Outcome) {
  import Workloads._

  private val cfg = IndexConfig(analyzerMode = "indri", blockSize = 1024, numBuckets = 8)
  private val corpusDir = a.runDir.resolve("corpus").toString
  private val answers = new ConcurrentHashMap[String, Seq[(Long, Double)]]()
  private val pool = QueryGen.pool(a.seed, {
    case "sdm" => sizes.sdmPerClass
    case "lm" => sizes.lmPerClass
    case _ => sizes.flatPerClass
  })

  private def ms(t0: Long): Double = (System.nanoTime() - t0) / 1e6
  private def timedMs[A](f: => A): (A, Double) = { val t0 = System.nanoTime(); val r = f; (r, ms(t0)) }

  // ------------------------------------------------------------------
  // index layer
  // ------------------------------------------------------------------

  private def writeCorpus(n: Int, seed: Long, dir: String): Unit =
    CorpusSynthesizer.corpus(spark, n, seed).write.mode("overwrite").parquet(dir)

  /** One build as a user runs it: the corpus table in, a written store out. */
  private def build(corpus: String, dir: String, req: Int, traced: Boolean): Double = {
    val t0 = System.nanoTime()
    trace.span("index.build", req, on = traced) { root =>
      val idx = trace.span("index.build_from_corpus", req, root, traced) { _ =>
        IndexBuilder.buildFromCorpus(spark.read.parquet(corpus), cfg)
      }
      trace.span("index.write_all", req, root, traced)(_ => SegmentStore.writeAll(idx, dir, cfg))
    }
    val took = ms(t0)
    spark.catalog.clearCache()
    took
  }

  private def treeBytes(p: Path): Long =
    if (!Files.exists(p)) 0L
    else Files.walk(p).iterator().asScala.filter(Files.isRegularFile(_)).map(Files.size).sum

  /** Checks a written store: Σ dictionary df = Σ manifest postings =
    * Σ postings over the segment blocks, and every document is counted.
    */
  private def checkStore(dir: String, docs: Long): StoreFacts = {
    val st = SegmentStore.open(spark, dir)
    val dict = st.dictionary.agg(count(lit(1)), sum(col("df").cast("long"))).head()
    val manifest = spark.read.parquet(s"$dir/manifest")
      .agg(sum(col("postings").cast("long"))).head().getLong(0)
    val seg = st.segments.agg(count(lit(1)), sum(col("numDocs").cast("long"))).head()
    val doclens = st.doclens.count()
    val (terms, dfSum, blocks, postings) = (dict.getLong(0), dict.getLong(1), seg.getLong(0), seg.getLong(1))
    if (dfSum != manifest || manifest != postings)
      out.fail(s"store $dir: dictionary df $dfSum, manifest $manifest, segment postings $postings")
    if (st.stats.totalDocs != docs || doclens != docs)
      out.fail(s"store $dir: totalDocs ${st.stats.totalDocs}, doclens $doclens, expected $docs")
    val segBytes = treeBytes(Paths.get(dir, "segments"))
    StoreFacts(postings, blocks, terms, segBytes, treeBytes(Paths.get(dir)) - segBytes)
  }

  private def contentBytes(dir: String): Long =
    spark.read.parquet(dir).agg(sum(octet_length(col("content")))).head().getLong(0)

  /** Opens a store exactly as RunQuery does: a bucketed segments table,
    * kernel-only handle, no Spark cache. Returns the okapi and LM engines.
    */
  private def open(dir: String, traced: Boolean): (Engine, Engine) =
    trace.span("index.open", 0, on = traced) { _ =>
      val st = SegmentStore.open(spark, dir)
      val idx = InvertedIndex(null, st.dictionary, st.doclens, st.stats, st.segments,
        st.fieldExtents, numBuckets = st.numBuckets, segmentsBucketed = true)
      (new Engine(spark, idx, cfg.analyzer, ScoringRule(method = "okapi")),
        new Engine(spark, idx, cfg.analyzer, LmRule))
    }

  // ------------------------------------------------------------------
  // search layer
  // ------------------------------------------------------------------

  private def key(q: Query) = s"${q.cls}|${q.text}"
  private def rows(rs: Array[Row]): Seq[(Long, Double)] = rs.toSeq.map(r => (r.getLong(0), r.getDouble(1)))

  /** Records an answer: it must have hits, be in (score desc, docId asc)
    * order, and equal every earlier answer to the same query.
    */
  private def record(q: Query, got: Seq[(Long, Double)], where: String): Unit = {
    if (got.isEmpty) out.fail(s"$where: ${q.text} returned no hits")
    else if (!Workloads.ordered(got)) out.fail(s"$where: ${q.text} answer is not in rank order")
    val prev = answers.putIfAbsent(key(q), got)
    if (prev != null && !Workloads.sameTopK(prev, got))
      out.fail(s"$where: ${q.text} answered differently than before")
  }

  private def engineFor(q: Query, engines: (Engine, Engine)) = if (q.cls == "lm") engines._2 else engines._1

  /** Single-client phase: one query at a time, classes in round-robin.
    * Runs whole rounds (one query per class) until `budgetMs` has passed
    * and at least `minQueries` were sent. In a traced run, rounds run
    * untraced, traced, traced, untraced (and so on), so that the untraced
    * control for the tracing overhead sees the same drift as the traced.
    */
  private def single(engines: (Engine, Engine), budgetMs: Double, minQueries: Int): Seq[Timed] = {
    val lat = ArrayBuffer.empty[Timed]
    val t0 = System.nanoTime()
    var i = 0
    while (i % QueryGen.Classes.size != 0 || i < minQueries || ms(t0) < budgetMs) {
      val round = i / QueryGen.Classes.size
      val cls = QueryGen.Classes(i % QueryGen.Classes.size)
      val q = pool(cls)(round % pool(cls).size)
      val traced = trace.enabled && (round % 4 == 1 || round % 4 == 2)
      val eng = engineFor(q, engines)
      out.attempted += 1
      try {
        val tq = System.nanoTime()
        val got = trace.span("search.query", i, on = traced) { root =>
          val df = trace.span("search.plan", i, root, traced)(_ => eng.runQuery(q.text, K))
          trace.span("search.collect", i, root, traced)(_ => df.collect())
        }
        lat += Timed(cls, ms(tq), traced)
        record(q, rows(got), "single")
        if (traced) trace.span("search.term_stats", i) { _ =>
          eng.termStatsFor(QueryParser.termLeaves(QueryParser.parse(q.text))
            .flatMap(t => Option(eng.stemTerm(t))).distinct)
        }
      } catch { case e: Exception => out.fail(s"single: ${q.text} threw $e") }
      i += 1
    }
    lat.toSeq
  }

  /** One runQueries batch, its answers collected by `collectors`. */
  private def batch(kind: String, qs: Seq[Query], req: Int, eng: Engine,
                    collectors: ExecutorService): Double = {
    out.attempted += qs.size
    val t0 = System.nanoTime()
    try {
      trace.span(s"search.batch.$kind", req) { root =>
        val res = trace.span("search.batch_call", req, root)(_ => eng.runQueries(qs.map(_.text), K))
        trace.span("search.batch_collect", req, root) { cid =>
          val fs = res.map { case (_, df) =>
            collectors.submit(new Callable[Array[Row]] {
              def call(): Array[Row] = trace.span("search.batch_collect_one", req, cid)(_ => df.collect())
            })
          }
          fs.zip(qs).foreach { case (f, q) =>
            try record(q, rows(f.get()), s"batch.$kind")
            catch { case e: Exception => out.fail(s"batch.$kind: ${q.text} threw $e") }
          }
        }
      }
    } catch { case e: Exception => qs.foreach(q => out.fail(s"batch.$kind: ${q.text} threw $e")) }
    ms(t0)
  }

  /** Batch phase: rounds of one flat batch and one sdm batch. A round
    * starts only if it is expected to end within `budgetMs`; the first
    * always runs. Returns (kind, queries, wall ms) per batch.
    */
  private def batches(eng: Engine, budgetMs: Double, collectors: ExecutorService): Seq[(String, Int, Double)] = {
    val flatDistinct = pool("hot").indices.flatMap(i => QueryGen.FlatClasses.map(c => pool(c)(i)))
    val flat = Iterator.continually(flatDistinct).flatten.take(sizes.flatBatch).toSeq
    val sdm = Iterator.continually(pool("sdm")).flatten.take(sizes.sdmBatch).toSeq
    val done = ArrayBuffer.empty[(String, Int, Double)]
    val t0 = System.nanoTime()
    var lastRound = 0.0
    var r = 0
    while (r == 0 || ms(t0) + lastRound <= budgetMs) {
      val tr = System.nanoTime()
      for ((kind, qs) <- Seq("flat" -> flat, "sdm" -> sdm))
        done += ((kind, qs.size, batch(kind, qs, done.size, eng, collectors)))
      lastRound = ms(tr)
      r += 1
    }
    done.toSeq
  }

  /** Compares every distinct query's answer with the unpruned kernel
    * (exhaustive = true), and one query with the DataFrame reference path
    * (useDaat = false). The reference path costs seconds per query shape
    * in a fresh JVM, so each run checks one class, chosen by the seed;
    * six consecutive seeds cover every class.
    */
  private def verify(engines: (Engine, Engine), collectors: ExecutorService): Unit = {
    val refClass = QueryGen.Classes(Math.floorMod(a.seed, QueryGen.Classes.size.toLong).toInt)
    val checks: Seq[(Query, String)] =
      QueryGen.Classes.flatMap(c => pool(c).map(_ -> "exhaustive")) :+ (pool(refClass).head -> "reference")
    val fs = checks.map { case (q, how) =>
      collectors.submit(new Callable[Unit] {
        def call(): Unit = {
          val got = answers.get(key(q))
          if (got == null) { out.problem(s"verify: ${q.text} was never answered"); return }
          val eng = engineFor(q, engines)
          val want =
            try rows((how, q.cls) match {
              case ("reference", _) => eng.runQuery(q.text, K, useDaat = false).collect()
              case (_, "sdm") => eng.runStructured(QueryParser.parse(q.text), K, exhaustive = true)
                .getOrElse(throw new IllegalStateException("the structured kernel declined")).collect()
              case (_, "lm") => eng.runDaatLm(q.bag, K, exhaustive = true).collect()
              case _ => eng.runDaat(q.bag, K, exhaustive = true).collect()
            }).sortBy { case (d, s) => (-s, d) }
            catch { case e: Exception => out.fail(s"verify: $how ${q.text} threw $e"); return }
          if (!Workloads.sameTopK(want, got)) out.fail(s"verify: ${q.text} differs from the $how answer")
        }
      })
    }
    fs.foreach(_.get())
  }

  private def newCollectors(): ExecutorService = {
    // threads start before any job group is set, so none inherits one
    val ex = Executors.newFixedThreadPool(cores).asInstanceOf[java.util.concurrent.ThreadPoolExecutor]
    ex.prestartAllCoreThreads()
    ex
  }

  /** Single and batch phases over an opened store, then verification. */
  private def servePhases(engines: (Engine, Engine), singleMs: Double, batchMs: Double,
                          check: Boolean): (Seq[Timed], Seq[(String, Int, Double)]) = {
    val collectors = newCollectors()
    try {
      val (lat, sMs) = timedMs(single(engines, singleMs, sizes.minSingle))
      val (bs, bMs) = timedMs(batches(engines._1, batchMs, collectors))
      val vMs = if (check) timedMs(verify(engines, collectors))._2 else 0.0
      System.err.println(f"[perfbench] single $sMs%.0f ms (${lat.size} queries), " +
        f"batches $bMs%.0f ms (${bs.size}), verify $vMs%.0f ms")
      (lat, bs)
    } finally collectors.shutdown()
  }

  // ------------------------------------------------------------------
  // workloads
  // ------------------------------------------------------------------

  def bulkBuild(): Unit = {
    val corpusMs = timedMs(writeCorpus(sizes.buildDocs, a.seed, corpusDir))._2
    // the first build in a JVM pays class loading, JIT and Spark code
    // generation; an untimed build of the same table leaves the timed ones warm
    val warmMs = build(corpusDir, a.runDir.resolve("store-warmup").toString, -1, traced = false)
    out.put("setup_s", (corpusMs + warmMs) / 1000, "s")
    System.err.println(f"[perfbench] bulk_build set-up: corpus $corpusMs%.0f ms, warm-up build $warmMs%.0f ms")

    // a build starts only if it is expected to end within --seconds; a
    // traced run alternates untraced and traced builds, the untraced ones
    // being the control for the overhead figure
    val minOps = if (a.trace) 2 else 1
    val ops = ArrayBuffer.empty[(String, Double, Boolean)]
    val t0 = System.nanoTime()
    var i = 0
    var lastMs = 0.0
    while (i < minOps || ms(t0) + lastMs <= a.seconds * 1000.0) {
      val dir = a.runDir.resolve(s"store-$i").toString
      val traced = a.trace && i % 2 == 1
      val ti = System.nanoTime()
      out.attempted += 1
      try ops += ((dir, build(corpusDir, dir, i, traced), traced))
      catch { case e: Exception => out.fail(s"build $i threw $e") }
      lastMs = ms(ti)
      i += 1
    }
    require(ops.nonEmpty, "no build succeeded")
    val opMs = Stats.median(ops.map(_._2).toSeq)
    out.put("op_p50_ms", opMs, "ms")
    out.put("items_per_s", sizes.buildDocs / (opMs / 1000), "1/s")
    val facts = ops.map(o => checkStore(o._1, sizes.buildDocs))
    out.put("index_bytes_per_input_byte",
      Stats.median(facts.map(_.bytes.toDouble).toSeq) / contentBytes(corpusDir), "ratio")

    if (a.trace) {
      val (tr, un) = ops.partition(_._3)
      overhead(tr.map(_._2).toSeq, un.map(_._2).toSeq)
      indexLayer(facts.head)
      val (engines, openMs) = timedMs(open(ops.last._1, traced = true))
      out.put("index.open_s", openMs / 1000, "s")
      // the probe only measures the search layer; serve verifies its answers
      val (lat, bs) = servePhases(engines, 0, 0, check = false)
      searchLayer(lat, bs, overheadFromQueries = false)
      out.put("analysis.analyze_mb_per_s", analyzeMbPerS(), "MB/s")
    }
  }

  def serve(): Unit = {
    val corpusMs = timedMs(writeCorpus(sizes.serveDocs, a.seed, corpusDir))._2
    val dir = a.runDir.resolve("store").toString
    val buildMs = build(corpusDir, dir, 0, traced = a.trace)
    // a server opens its store at every start; repeat it and take the median
    val opens = (1 to 3).map(_ => timedMs(open(dir, traced = false)))
    val engines = opens.last._1
    // one query per kernel (bag WAND, structured windows, LM bag) warms
    // the query paths
    val warmMs = timedMs(Seq("hot", "sdm", "lm").foreach { c =>
      engineFor(pool(c).head, engines).runQuery(pool(c).head.text, K).collect()
    })._2
    val openMs = Stats.median(opens.map(_._2))
    out.put("setup_s", (corpusMs + buildMs + openMs + warmMs) / 1000, "s")
    System.err.println(f"[perfbench] serve set-up: corpus $corpusMs%.0f ms, " +
      f"build $buildMs%.0f ms, opens ${opens.map(_._2.round).mkString("/")} ms, warm-up $warmMs%.0f ms")

    val (lat, bs) = servePhases(engines, a.seconds * 1000.0 * SingleShare,
      a.seconds * 1000.0 * (1 - SingleShare), check = true)
    require(lat.nonEmpty && bs.nonEmpty, "no query succeeded")
    out.put("op_p50_ms", Stats.median(lat.map(_.ms)), "ms")
    out.put("items_per_s", bs.map(_._2).sum / (bs.map(_._3).sum / 1000), "1/s")
    out.put("index_bytes_per_input_byte", treeBytes(Paths.get(dir)).toDouble / contentBytes(corpusDir), "ratio")

    if (a.trace) {
      indexLayer(checkStore(dir, sizes.serveDocs))
      out.put("index.open_s", openMs / 1000, "s")
      searchLayer(lat, bs, overheadFromQueries = true)
      out.put("analysis.analyze_mb_per_s", analyzeMbPerS(), "MB/s")
    }
  }

  // ------------------------------------------------------------------
  // per-layer metrics (traced runs)
  // ------------------------------------------------------------------

  private def overhead(traced: Seq[Double], untraced: Seq[Double]): Unit = {
    require(traced.nonEmpty && untraced.nonEmpty, "overhead needs traced and untraced operations")
    out.put("trace.overhead_pct", (Stats.median(traced) / Stats.median(untraced) - 1) * 100, "%")
  }

  /** Span self-times must account for the parent's wall time within 10%. */
  private def reconcile(root: String, metric: String): Unit = {
    val ratios = trace.named(root).map { s =>
      trace.children(s).map(_.ms).sum / s.ms
    }
    require(ratios.nonEmpty, s"no traced $root span")
    ratios.filter(r => r < 0.9 || r > 1.1).foreach(r => out.problem(f"$root: child spans cover $r%.3f of its wall time"))
    out.put(metric, Stats.median(ratios), "ratio")
  }

  private def indexLayer(facts: StoreFacts): Unit = {
    trace.collector.drain()
    for (name <- Seq("build_from_corpus", "write_all")) {
      val ss = trace.named(s"index.$name")
      require(ss.nonEmpty, s"no traced index.$name span")
      val n = ss.size.toDouble
      val ts = ss.flatMap(trace.tasksUnder)
      def mb(f: TaskRec => Long) = ts.map(f).sum / 1e6 / n
      out.put(s"index.${name}_s", ss.map(_.ms).sum / 1000 / n, "s")
      out.put(s"index.$name.task_s", ts.map(_.runMs).sum / 1000.0 / n, "s")
      out.put(s"index.$name.cpu_s", ts.map(_.cpuNs).sum / 1e9 / n, "s")
      out.put(s"index.$name.gc_s", ts.map(_.gcMs).sum / 1000.0 / n, "s")
      out.put(s"index.$name.shuffle_write_mb", mb(_.shuffleWriteBytes), "MB")
      out.put(s"index.$name.shuffle_read_mb", mb(_.shuffleReadBytes), "MB")
      out.put(s"index.$name.spill_mb", mb(_.spillBytes), "MB")
      out.put(s"index.$name.skew", Stats.median(ss.map(s => skew(trace.tasksUnder(s)))), "ratio")
      out.put(s"index.$name.busy", ts.map(_.runMs).sum / (ss.map(_.ms).sum * cores), "ratio")
    }
    reconcile("index.build", "trace.reconcile_build")
    out.put("index.postings", facts.postings.toDouble, "count")
    out.put("index.blocks", facts.blocks.toDouble, "count")
    out.put("index.terms", facts.terms.toDouble, "count")
    out.put("index.store_mb.segments", facts.segmentBytes / 1e6, "MB")
    out.put("index.store_mb.other", facts.otherBytes / 1e6, "MB")
  }

  private def searchLayer(lat: Seq[Timed], bs: Seq[(String, Int, Double)],
                          overheadFromQueries: Boolean): Unit = {
    trace.collector.drain()
    val qs = trace.named("search.query")
    require(qs.nonEmpty, "no traced query")
    val perQuery = qs.map(trace.tasksUnder)
    out.put("index.read_mb_per_query", perQuery.map(_.map(_.inputBytes).sum).sum / 1e6 / qs.size, "MB")
    out.put("search.plan_ms", Stats.median(trace.named("search.plan").map(_.ms)), "ms")
    out.put("search.term_stats_ms", Stats.median(trace.named("search.term_stats").map(_.ms)), "ms")
    val collects = trace.named("search.collect").map(_.ms)
    out.put("search.collect_p50_ms", Stats.median(collects), "ms")
    out.put("search.collect_tail_ms", tail(collects), "ms")
    out.put("search.jobs_per_query", qs.map(trace.jobsUnder(_).size).sum.toDouble / qs.size, "count")
    out.put("search.wait_ms_per_query", qs.zip(perQuery).map { case (q, ts) =>
      q.ms - ts.groupBy(_.job).values.map(_.map(_.durationMs).max).sum
    }.sum / qs.size, "ms")
    out.put("search.task_ms_per_query", perQuery.map(_.map(_.runMs).sum).sum.toDouble / qs.size, "ms")
    QueryGen.Classes.foreach(c => out.put(s"search.p50_ms.$c", Stats.median(lat.filter(_.cls == c).map(_.ms)), "ms"))
    out.put("search.query_tail_ms", tail(lat.map(_.ms)), "ms")
    out.put("search.single_queries", lat.size.toDouble, "count")
    reconcile("search.query", "trace.reconcile_query")

    var busyMs = 0.0
    var wallMs = 0.0
    for (kind <- Seq("flat", "sdm")) {
      val roots = trace.named(s"search.batch.$kind")
      require(roots.nonEmpty, s"no traced $kind batch")
      def childMs(n: String) = Stats.median(roots.flatMap(trace.children).filter(_.name == n).map(_.ms))
      out.put(s"search.batch_call_ms.$kind", childMs("search.batch_call"), "ms")
      out.put(s"search.batch_collect_ms.$kind", childMs("search.batch_collect"), "ms")
      out.put(s"search.jobs_per_batch.$kind", roots.map(trace.jobsUnder(_).size).sum.toDouble / roots.size, "count")
      busyMs += roots.flatMap(trace.tasksUnder).map(_.runMs).sum
      wallMs += roots.map(_.ms).sum
    }
    out.put("search.batch_busy", busyMs / (wallMs * cores), "ratio")
    val sdm = bs.filter(_._1 == "sdm")
    out.put("search.batch_sdm_qps", sdm.map(_._2).sum / (sdm.map(_._3).sum / 1000), "1/s")
    if (overheadFromQueries) {
      val (tr, un) = lat.partition(_.traced)
      overhead(tr.map(_.ms), un.map(_.ms))
    }
  }

  /** Single-thread Analyzer.analyze over a seeded sample of documents. */
  private def analyzeMbPerS(): Double = {
    val az = cfg.analyzer
    val docs = (0 until sizes.analyzeDocs).map(i => CorpusSynthesizer.genDoc(a.seed, i.toLong)._5)
    val bytes = docs.map(_.getBytes(UTF_8).length.toLong).sum
    docs.foreach(az.analyze)
    val t0 = System.nanoTime()
    var passes = 0
    while (passes == 0 || ms(t0) < 1000) { docs.foreach(az.analyze); passes += 1 }
    bytes * passes / 1e6 / (ms(t0) / 1000)
  }
}

object Workloads {
  val K = 1000
  val LmRule: ScoringRule = ScoringRule.parse("method:dirichlet,mu:2500")
  /** Share of the measured window given to the single-client phase. */
  val SingleShare = 0.4

  /** (score desc, docId asc), the engine's documented result order. */
  def ordered(xs: Seq[(Long, Double)]): Boolean =
    xs.zip(xs.drop(1)).forall { case ((d1, s1), (d2, s2)) => s1 > s2 || (s1 == s2 && d1 < d2) }

  /** Same documents in the same order, scores equal to 1e-9 relative. */
  def sameTopK(want: Seq[(Long, Double)], got: Seq[(Long, Double)]): Boolean =
    want.size == got.size && want.zip(got).forall { case ((dw, sw), (dg, sg)) =>
      dw == dg && math.abs(sw - sg) <= 1e-9 * math.max(1.0, math.abs(sw))
    }

  /** Max over median task time in the stage with the most task time. */
  def skew(ts: Seq[TaskRec]): Double =
    if (ts.isEmpty) 1.0
    else {
      val heavy = ts.groupBy(_.stage).values.maxBy(_.map(_.durationMs).sum).map(_.durationMs.toDouble)
      val med = Stats.median(heavy)
      if (med <= 0) 1.0 else heavy.max / med
    }

  /** Tail figure: the highest ladder percentile with ten samples beyond
    * it; with too few samples for any, the median.
    */
  def tail(xs: Seq[Double]): Double =
    Stats.tailLevel(xs.size).map(Stats.percentile(xs, _)).getOrElse(Stats.median(xs))

  private val spanMetrics = Seq("task_s", "cpu_s", "gc_s", "shuffle_write_mb",
    "shuffle_read_mb", "spill_mb", "skew", "busy")

  val PerLayer: Seq[String] =
    Seq("analysis.analyze_mb_per_s") ++
      Seq("build_from_corpus", "write_all").flatMap(s =>
        s"index.${s}_s" +: spanMetrics.map(m => s"index.$s.$m")) ++
      Seq("index.postings", "index.blocks", "index.terms", "index.store_mb.segments",
        "index.store_mb.other", "index.open_s", "index.read_mb_per_query",
        "search.plan_ms", "search.term_stats_ms", "search.collect_p50_ms",
        "search.collect_tail_ms", "search.jobs_per_query", "search.wait_ms_per_query",
        "search.task_ms_per_query") ++
      QueryGen.Classes.map(c => s"search.p50_ms.$c") ++
      Seq("search.query_tail_ms", "search.single_queries") ++
      Seq("flat", "sdm").flatMap(k => Seq(s"search.batch_call_ms.$k",
        s"search.batch_collect_ms.$k", s"search.jobs_per_batch.$k")) ++
      Seq("search.batch_busy", "search.batch_sdm_qps",
        "trace.overhead_pct", "trace.reconcile_build", "trace.reconcile_query")
}
