package graft.perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, Paths, StandardCopyOption}
import java.security.MessageDigest

import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import com.fasterxml.jackson.databind.node.ObjectNode
import org.apache.spark.sql.SparkSession

import graft.Engine
import graft.operators.{Dedup, StoreFiles}
import graft.run.{Main, StoreCtl}
import graft.sources.{Checkpoints, JiraConfig, JiraSource}
import graft.streaming.{StreamDoc, StreamVec, Streams}

/** The pipeline benchmark's JVM side: runs one workload over inputs
  * that `perfbench/gen.py` generated, through the program's public
  * entry points, times every call into a layer, checks the outputs
  * against the generator's truth and writes one result JSON.
  *
  *   PerfBench --workload W --inputs DIR --work DIR --seconds S
  *             --trace 0|1 --launch-ms EPOCH_MS --cores N --out FILE
  *   PerfBench --selftest
  *
  * `--launch-ms` is when the caller started this JVM: set-up time runs
  * from there. `--selftest` checks the stub endpoint and the retry
  * accounting without a Spark session.
  */
object PerfBench {

  final case class Args(workload: String, inputs: Path, work: Path,
                        seconds: Double, trace: Boolean, launchMs: Long,
                        cores: Int, out: Path)

  val mapper = new ObjectMapper()

  def parse(args: Array[String]): Args = {
    val m = args.grouped(2).collect { case Array(k, v) => k -> v }.toMap
    def need(k: String): String =
      m.getOrElse(k, throw new IllegalArgumentException(s"missing $k"))
    Args(need("--workload"), Paths.get(need("--inputs")),
      Paths.get(need("--work")), need("--seconds").toDouble,
      need("--trace") == "1", need("--launch-ms").toLong,
      need("--cores").toInt, Paths.get(need("--out")))
  }

  /** What a workload reports. A failed check adds the operations it
    * covers to `failed` and says why in `problems`.
    */
  final class Report {
    val e2e = mutable.LinkedHashMap[String, (Double, String)]()
    val detail = mutable.LinkedHashMap[String, (Double, String)]()
    val roundSetupNs = mutable.ArrayBuffer[Long]()
    var attempted = 0L
    var failed = 0L
    var readyNs = 0L
    val digest: MessageDigest = MessageDigest.getInstance("SHA-256")
    val problems = mutable.ArrayBuffer[String]()
    def check(ok: Boolean, ops: Long, what: => String): Unit =
      if (!ok) { failed += ops; problems += what }
  }

  def readJson(p: Path): JsonNode = mapper.readTree(Files.readString(p))

  def treeBytes(p: Path): Long =
    if (Files.exists(p)) StoreFiles.treeBytes(p.toFile) else 0L

  def fileCount(p: Path): Long =
    if (!Files.exists(p)) 0L
    else {
      val s = Files.walk(p)
      try s.filter(Files.isRegularFile(_)).count() finally s.close()
    }

  def deleteTree(p: Path): Unit =
    if (Files.exists(p)) {
      val s = Files.walk(p)
      try s.sorted(java.util.Comparator.reverseOrder[Path]())
        .forEach(f => Files.delete(f))
      finally s.close()
    }

  def vmHwmMb: Double =
    scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toDouble / 1024).getOrElse(0.0)

  def main(args: Array[String]): Unit = {
    if (args.headOption.contains("--selftest")) {
      println(Selftest.run())
      return
    }
    val a = parse(args)
    val launchNs =
      System.nanoTime() - (System.currentTimeMillis() - a.launchMs) * 1000000L
    val tr = new Tracer(a.trace)
    val spark = tr.span("engine.session", "setup", startNs = launchNs) {
      Engine.session("perfbench", a.cores.toString)
    }
    tr.attach(spark)
    val rep = new Report
    val layers = new Layers(tr, a.cores)
    try {
      a.workload match {
        case "etl_backfill" => new EtlBackfill(spark, tr, a, rep, layers).run()
        case "store_ingest_probe" =>
          new StoreIngestProbe(spark, tr, a, rep, layers).run()
        case w => throw new IllegalArgumentException(s"unknown workload $w")
      }
    } catch {
      case NonFatal(e) =>
        rep.failed += 1
        rep.attempted = math.max(rep.attempted, 1)
        rep.problems += s"workload aborted: $e"
        e.printStackTrace()
    }
    tr.drain(spark)
    val endNs = System.nanoTime()
    val setupNs = rep.readyNs - launchNs +
      SpanMath.median(rep.roundSetupNs.map(_.toDouble)).toLong
    rep.e2e("setup_s") = (setupNs / 1e9, "s")
    rep.e2e("peak_rss_mb") = (vmHwmMb, "MB")
    val perLayer = layers.metrics(endNs - launchNs)
    val out = mapper.createObjectNode()
    out.put("correct", rep.failed == 0 && rep.problems.isEmpty)
    out.put("attempted", rep.attempted)
    out.put("failed", rep.failed)
    out.put("digest", rep.digest.digest().map("%02x".format(_)).mkString)
    val probs = out.putArray("problems")
    rep.problems.take(20).foreach(probs.add)
    def put(name: String, m: Iterable[(String, (Double, String))]): Unit = {
      val o = out.putObject(name)
      m.foreach { case (k, (v, u)) =>
        o.putObject(k).put("value", v).put("unit", u) }
    }
    put("e2e", rep.e2e)
    put("detail", rep.detail)
    if (a.trace) put("per_layer", perLayer)
    Files.createDirectories(a.out.toAbsolutePath.getParent)
    Files.writeString(a.out, mapper.writeValueAsString(out))
    if (a.trace)
      Files.writeString(Paths.get(a.out.toString + ".trace.json"),
        layers.traceJson(launchNs))
    spark.stop()
  }
}

/** Turns recorded spans and counters into per-layer metrics. Each
  * layer metric is a mean per measured operation over the spans of that
  * name, so runs of different lengths compare.
  */
final class Layers(tr: Tracer, cores: Int) {
  private val extras =
    mutable.Map[(String, String), mutable.ArrayBuffer[Double]]()

  /** Record a count measured at a layer boundary for one operation. */
  def count(span: String, key: String, v: Double): Unit =
    extras.getOrElseUpdate((span, key), mutable.ArrayBuffer()) += v

  val spanNames: Seq[String] = Seq("engine.session", "sources.extract",
    "etl.transform", "operators.build.cluster", "operators.build.embed",
    "operators.fold.cluster", "operators.fold.embed",
    "operators.compact.cluster", "operators.compact.embed", "operators.gc",
    "streaming.probe_text", "streaming.probe_vec")

  /** Spark counters a span name reports (driver-only layers omit them). */
  private def base(name: String): Seq[String] = name match {
    case "sources.extract" | "operators.gc" => Seq("busy_s", "gc_ms")
    case "engine.session" => Seq("busy_s", "jobs", "task_cpu_s", "plan_ms",
      "gc_ms")
    case _ => Seq("busy_s", "jobs", "tasks", "task_cpu_s", "idle_core_s",
      "plan_ms", "shuffle_mb", "gc_ms")
  }

  val extraKeys: Map[String, Seq[(String, String)]] = Map(
    "sources.extract" -> Seq("pages" -> "count", "requests" -> "count",
      "retries" -> "count", "backoff_s" -> "s", "useful_frac" -> "ratio",
      "raw_mb" -> "MB"),
    "etl.transform" -> Seq("records" -> "count", "pages_skipped" -> "count",
      "error_records" -> "count", "out_mb" -> "MB"),
    "operators.build.cluster" -> Seq("written_mb" -> "MB"),
    "operators.build.embed" -> Seq("written_mb" -> "MB"),
    "operators.fold.cluster" -> Seq("chain_depth" -> "count",
      "written_mb" -> "MB"),
    "operators.fold.embed" -> Seq("chain_depth" -> "count",
      "written_mb" -> "MB"),
    "operators.compact.cluster" -> Seq("rewritten_mb" -> "MB",
      "files" -> "count"),
    "operators.compact.embed" -> Seq("rewritten_mb" -> "MB",
      "files" -> "count"),
    "operators.gc" -> Seq("collected" -> "count"),
    "streaming.probe_text" -> Seq("query_planning_ms" -> "ms",
      "add_batch_ms" -> "ms", "wal_commit_ms" -> "ms", "state_rows" -> "count",
      "matches" -> "count", "first_batch_ms" -> "ms"),
    "streaming.probe_vec" -> Seq("query_planning_ms" -> "ms",
      "add_batch_ms" -> "ms", "wal_commit_ms" -> "ms", "state_rows" -> "count",
      "matches" -> "count", "first_batch_ms" -> "ms"))

  private val units = Map("busy_s" -> "s", "jobs" -> "count",
    "tasks" -> "count", "task_cpu_s" -> "s", "idle_core_s" -> "core-s",
    "plan_ms" -> "ms", "shuffle_mb" -> "MB", "gc_ms" -> "ms")

  /** Operations the per-operation means cover: not warm-up, and for the
    * streams not start, stop or the static-side-caching first batch.
    */
  private def measured(s: Span): Boolean =
    s.op != "warm" && !s.op.matches(".*-(start|first|stop)")

  def metrics(wallNs: Long)
      : mutable.LinkedHashMap[String, (Double, String)] = {
    val out = mutable.LinkedHashMap[String, (Double, String)]()
    val spans = tr.all
    spanNames.foreach { name =>
      val ss = spans.filter(s => s.name == name && measured(s))
      val n = math.max(1, ss.size).toDouble
      val cs = ss.flatMap(s => tr.countersFor(s.id))
      val wall = ss.map(_.wallNs).sum / 1e9
      val runS = cs.map(_.runMs).sum / 1e3
      val v = Map(
        "busy_s" -> wall,
        "jobs" -> cs.map(_.jobs).sum.toDouble,
        "tasks" -> cs.map(_.tasks).sum.toDouble,
        "task_cpu_s" -> cs.map(_.cpuNs).sum / 1e9,
        "idle_core_s" -> math.max(0.0, wall * cores - runS),
        "plan_ms" -> cs.map(_.planMs).sum,
        "shuffle_mb" -> cs.map(_.shuffleBytes).sum / 1048576.0,
        "gc_ms" -> cs.map(_.gcMs).sum.toDouble)
      base(name).foreach(k => out(s"$name.$k") = (v(k) / n, units(k)))
      extraKeys.getOrElse(name, Nil).foreach { case (k, u) =>
        val xs = extras.getOrElse((name, k), mutable.ArrayBuffer())
        out(s"$name.$k") = (if (xs.isEmpty) 0.0 else xs.sum / xs.size, u)
      }
    }
    val gc = java.lang.management.ManagementFactory
      .getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum
    val jit = Option(java.lang.management.ManagementFactory
      .getCompilationMXBean).map(_.getTotalCompilationTime).getOrElse(0L)
    out("jvm.gc_ms") = (gc.toDouble, "ms")
    out("jvm.jit_comp_s") = (jit / 1e3, "s")
    val self = SpanMath.selfNs(spans)
    val layerSelf = spans.filter(s => spanNames.contains(s.name))
      .map(s => self(s.id)).sum
    out("trace.span_coverage") = (layerSelf.toDouble / wallNs, "ratio")
    out("trace.overhead_frac") = (tr.overheadNs.toDouble / wallNs, "ratio")
    out
  }

  /** Every span and its counters, for the trace file. */
  def traceJson(originNs: Long): String = {
    val m = new ObjectMapper()
    val root = m.createObjectNode()
    val arr = root.putArray("spans")
    val self = SpanMath.selfNs(tr.all)
    tr.all.sortBy(_.startNs).foreach { s =>
      val o = arr.addObject()
      o.put("id", s.id).put("name", s.name).put("parent", s.parent)
        .put("op", s.op).put("start_ms", (s.startNs - originNs) / 1e6)
        .put("end_ms", (s.endNs - originNs) / 1e6)
        .put("self_ms", self(s.id) / 1e6)
      tr.countersFor(s.id).foreach { c =>
        o.put("jobs", c.jobs).put("tasks", c.tasks)
          .put("task_cpu_ms", c.cpuNs / 1e6).put("task_run_ms", c.runMs)
          .put("gc_ms", c.gcMs).put("shuffle_bytes", c.shuffleBytes)
          .put("plan_ms", c.planMs)
      }
    }
    val ex = root.putObject("counts")
    extras.toSeq.sortBy(_._1).foreach { case ((sp, k), xs) =>
      val a = ex.putArray(s"$sp.$k")
      xs.foreach(x => a.add(x))
    }
    m.writerWithDefaultPrettyPrinter().writeValueAsString(root)
  }
}

/** etl_backfill: stub-served Jira pages -> `JiraSource.fetchAll` -> raw
  * zone (plus planted truncated pages) -> `Main.runPipeline` transform ->
  * golden `{PROJ}_issues.jsonl`. One iteration is one backfill of three
  * projects into a fresh data dir.
  */
final class EtlBackfill(spark: SparkSession, tr: Tracer,
                        a: PerfBench.Args, rep: PerfBench.Report,
                        layers: Layers) {
  import PerfBench._

  val cfg = JiraConfig(
    baseUrl = "http://jira.stub/rest/api/latest/search",
    projects = Seq("HADOOP", "SPARK", "KAFKA"), maxResults = 50,
    politeDelaySeconds = 1.0, rateLimitSleepSeconds = 5.0,
    retryBackoffBase = 2.0, maxRetries = 3)

  final case class Outcome(wallNs: Long, records: Long, bytes: Long)

  /** One backfill; `digest` adds its JSONL files to the run's digest. */
  def iteration(name: String, op: String, digest: Boolean): Outcome = {
    val in = a.inputs.resolve(name)
    val (stub, man, backoff) = tr.span("bench.prep", op) {
      val man = readJson(in.resolve("manifest.json"))
      val script = man.get("script").fields().asScala.map { e =>
        e.getKey -> e.getValue.elements().asScala.map(_.asInt).toSeq
      }.toMap
      val pagesDir = in.resolve("pages")
      val bodies = script.keys.map(k =>
        k -> Files.readString(pagesDir.resolve(s"$k.json"))).toMap
      (new StubJiraHttp(bodies, script), man, script.values.map(f =>
        StubJiraHttp.expectedBackoff(f, cfg.rateLimitSleepSeconds,
          cfg.retryBackoffBase)).sum)
    }
    val truth = man.get("truth")
    val data = a.work.resolve(name)
    val raw = data.resolve("raw")
    var slept = 0.0
    val t0 = System.nanoTime()
    val fetched = tr.span("sources.extract", op) {
      JiraSource.fetchAll(cfg, raw, new Checkpoints(data.resolve("checkpoints")),
        stub, s => slept += s)
    }
    val rawBytes = treeBytes(raw)
    val planted = in.resolve("planted")
    val plantedFiles =
      if (!Files.isDirectory(planted)) Nil
      else Files.list(planted).iterator().asScala.toSeq
    plantedFiles.foreach(f => Files.copy(f, raw.resolve(f.getFileName),
      StandardCopyOption.REPLACE_EXISTING))
    val ok = tr.span("etl.transform", op) {
      Main.runPipeline(Main.Options(runExtract = false, runTransform = true,
        dataDir = data, cfg = cfg), Some(spark))
    }
    val wall = System.nanoTime() - t0
    tr.span("bench.check", op) {
      check(op, truth, stub, fetched, slept, backoff, ok, data, rawBytes,
        wall, plantedFiles.size, digest)
    }
  }

  private def check(op: String, truth: JsonNode, stub: StubJiraHttp,
                    fetched: Seq[Either[(String, Throwable),
                      graft.sources.FetchResult]],
                    slept: Double, backoff: Double, ok: Boolean, data: Path,
                    rawBytes: Long, wall: Long, planted: Int,
                    digest: Boolean): Outcome = {
    val processed = data.resolve("processed")
    val projects = truth.get("projects")
    var records = 0L
    var errors = 0L
    val pagesSeen = mutable.Set[(String, Int)]()
    var pages = 0
    cfg.projects.foreach { p =>
      val t = projects.get(p)
      val nPages = t.get("pages").asInt
      pages += nPages
      rep.attempted += nPages
      val f = processed.resolve(s"${p}_issues.jsonl")
      val lines =
        if (Files.exists(f)) Files.readAllLines(f, StandardCharsets.UTF_8)
          .asScala.toSeq
        else Nil
      val parsed = lines.map(l => mapper.readTree(l))
      val errs = parsed.count(_.has("error"))
      val empties = lines.count(_ == "{}")
      // issue P-n sits on page (n - 1) / pageSize
      parsed.flatMap(n => Option(n.get("id"))).map(_.asText)
        .filter(_.startsWith(p + "-"))
        .foreach(id => pagesSeen += ((p,
          (id.drop(p.length + 1).toInt - 1) / cfg.maxResults)))
      records += lines.size
      errors += errs
      val fetchOk = fetched.exists {
        case Right(r) => r.project == p && r.pages == nPages &&
          r.issues == t.get("records").asInt
        case Left(_) => false
      }
      rep.check(ok && fetchOk && lines.size == t.get("records").asInt &&
        errs == t.get("error_records").asInt &&
        empties == t.get("empty_records").asInt, nPages,
        s"$op $p: ${lines.size} records, $errs errors, $empties empty vs " +
          s"truth $t (fetch ok: $fetchOk, pipeline ok: $ok)")
      // an error record's message depends on whether the JIT has compiled
      // the throwing path (a fast-throw NPE carries no message), so the
      // digest leaves the message out
      if (digest) lines.zip(parsed).foreach { case (l, n) =>
        val stable = n match {
          case o: ObjectNode if o.has("error") => o.without[JsonNode]("error")
            .toString
          case _ => l
        }
        rep.digest.update((stable + "\n").getBytes(StandardCharsets.UTF_8))
      }
    }
    val expectedSleep = pages * cfg.politeDelaySeconds + backoff
    rep.check(stub.requests == truth.get("requests").asInt &&
      math.abs(slept - expectedSleep) < 1e-9, 0,
      s"$op: ${stub.requests} requests / ${slept}s requested sleep vs " +
        s"${truth.get("requests")} / ${expectedSleep}s scripted")
    val outBytes = treeBytes(processed)
    if (op != "warm") {
      layers.count("sources.extract", "pages", pages)
      layers.count("sources.extract", "requests", stub.requests)
      layers.count("sources.extract", "retries", stub.scriptedFailures)
      layers.count("sources.extract", "backoff_s",
        slept - pages * cfg.politeDelaySeconds)
      layers.count("sources.extract", "useful_frac",
        pages.toDouble / stub.requests)
      layers.count("sources.extract", "raw_mb", rawBytes / 1048576.0)
      layers.count("etl.transform", "records", records)
      layers.count("etl.transform", "pages_skipped",
        pages + planted - pagesSeen.size)
      layers.count("etl.transform", "error_records", errors)
      layers.count("etl.transform", "out_mb", outBytes / 1048576.0)
    }
    Outcome(wall, records, rawBytes + outBytes)
  }

  def run(): Unit = {
    val names = Files.list(a.inputs).iterator().asScala
      .map(_.getFileName.toString).toSeq.sorted
    names.filter(_.startsWith("warm")).foreach { w =>
      iteration(w, "warm", digest = true)
      PerfBench.deleteTree(a.work.resolve(w))
    }
    rep.readyNs = System.nanoTime()
    val pool = names.filter(_.startsWith("it"))
    val t0 = System.nanoTime()
    val done = mutable.ArrayBuffer[Outcome]()
    val it = pool.iterator
    while (it.hasNext && (done.size < 3 ||
        System.nanoTime() - t0 < a.seconds * 1e9)) {
      val name = it.next()
      // the digest covers the iterations every run makes
      done += iteration(name, name, digest = done.size < 3)
      PerfBench.deleteTree(a.work.resolve(name))
    }
    val outs = done.toSeq
    val walls = outs.map(_.wallNs / 1e6)
    rep.e2e("items_per_s") = (SpanMath.median(outs.map(o =>
      o.records / (o.wallNs / 1e9))), "items/s")
    rep.e2e("latency_ms_p50") = (SpanMath.median(walls), "ms")
    rep.e2e("bytes_per_item") = (SpanMath.median(outs.map(o =>
      o.bytes.toDouble / o.records)), "B/item")
    rep.detail("etl_issues_per_s") = (rep.e2e("items_per_s")._1, "issues/s")
    rep.detail("etl_iteration_ms_p50") = (rep.e2e("latency_ms_p50")._1, "ms")
    rep.detail("iterations") = (outs.size.toDouble, "count")
  }
}

/** store_ingest_probe: one deployment day of the store layer over one
  * generated corpus — ingest, serve, then the nightly seal.
  *
  * Ingest: per kind (cluster over `documents`, embed over `embeddings`),
  * `StoreCtl build` a base, then one `advance --delta` per manifest
  * batch. The verbs run cold in this JVM, as each does in a deployment's
  * cron'd CLI run.
  *
  * Probe, against the delta chains ingest left: per probe round,
  * `storeNearDupStream` (text) and `storeDedupStream` (vectors) start on
  * the served chains with an
  * on-disk checkpoint, and one closed-loop client feeds fixed-size
  * micro-batches through `MemoryStream`, alternating the two streams,
  * `1.25 * seconds / rounds` measured batches per stream and round.
  * A batch is timed from `addData` to `processAllAvailable` returning.
  * Stream start and each stream's first, static-side-caching batch are
  * the round's set-up; rounds clear the cache so none reuses another's.
  *
  * Nightly: per kind, `compact` once the served chain has reached the
  * manifest's depth, then `gc`. The served assignment is checked after
  * ingest and after the seal.
  */
final class StoreIngestProbe(spark: SparkSession, tr: Tracer,
                             a: PerfBench.Args, rep: PerfBench.Report,
                             layers: Layers) {
  import PerfBench._
  import spark.implicits._
  import org.apache.spark.sql.execution.streaming.runtime.MemoryStream

  private implicit val sqlCtx: org.apache.spark.sql.SQLContext =
    spark.sqlContext
  private val kinds = Seq("cluster" -> "doc_id", "embed" -> "vec_id")
  private val in = a.inputs
  private val man = readJson(in.resolve("manifest.json"))
  private val corpus = in.resolve("corpus")
  private val n = man.get("truth").get("ids").asLong

  private val buildNs = mutable.Map[String, Long]()
  private val advanceNs = mutable.Map[String, mutable.ArrayBuffer[Long]]()
  private val compactNs = mutable.ArrayBuffer[Long]()
  private val batchMs = mutable.Map[String, mutable.ArrayBuffer[Double]]()
  private var folded = 0L
  private var probed = 0L

  /** One `StoreCtl` verb; a refusal or error fails one operation. */
  private def ctl(args: String*): Boolean =
    StoreCtl.run(spark, args) match {
      case Right(_) => true
      case Left(e) =>
        rep.check(ok = false, 1, s"StoreCtl ${args.mkString(" ")}: $e")
        false
    }

  private def served(root: Path): String =
    StoreFiles.serve(root.toString)
      .fold(e => throw new IllegalStateException(e), identity)

  private def chain(root: Path): Seq[String] =
    StoreFiles.chainPaths(served(root))
      .fold(e => throw new IllegalStateException(e), identity)

  private def gens(root: Path): Set[String] =
    Files.list(root).iterator().asScala.filter(Files.isDirectory(_))
      .map(_.getFileName.toString).toSet

  private def freshGens(root: Path, before: Set[String]): Seq[Path] =
    (gens(root) -- before).toSeq.map(root.resolve(_))

  private def timed(f: => Any): Long = {
    val t0 = System.nanoTime()
    f
    System.nanoTime() - t0
  }

  /** Build the base, then one `advance --delta` per manifest batch. */
  private def ingest(kind: String, idCol: String, root: Path): Unit = {
    val base = man.get("base").asLong
    Files.createDirectories(root)
    rep.attempted += 1
    buildNs(kind) = timed(tr.span(s"operators.build.$kind", "build") {
      ctl("build", kind, corpus.toString, s"$root/gen-0", s"$idCol < $base") &&
        ctl("flip", root.toString, "gen-0")
    })
    layers.count(s"operators.build.$kind", "written_mb",
      treeBytes(root.resolve("gen-0")) / 1048576.0)
    man.get("batches").elements().asScala.zipWithIndex.foreach {
      case (b, k) =>
        val (lo, hi) = (b.get(0).asLong, b.get(1).asLong)
        rep.attempted += 1
        val before = gens(root)
        val w = timed(tr.span(s"operators.fold.$kind", s"advance-$k") {
          ctl("advance", "--delta", kind, corpus.toString, root.toString,
            s"$idCol >= $lo AND $idCol < $hi")
        })
        advanceNs.getOrElseUpdate(kind, mutable.ArrayBuffer()) += w
        folded += hi - lo
        layers.count(s"operators.fold.$kind", "chain_depth", chain(root).size)
        layers.count(s"operators.fold.$kind", "written_mb",
          freshGens(root, before).map(treeBytes).sum / 1048576.0)
    }
    checkAssignment(kind, idCol, root, "chain")
  }

  /** The nightly step: `compact` once the served chain has reached the
    * manifest's depth, then `gc`.
    */
  private def nightly(kind: String, idCol: String, root: Path): Unit = {
    if (chain(root).size >= man.get("compact_at").asInt) {
      rep.attempted += 1
      val before = gens(root)
      compactNs += timed(tr.span(s"operators.compact.$kind", "compact")(
        ctl("compact", kind, root.toString)))
      val fresh = freshGens(root, before)
      layers.count(s"operators.compact.$kind", "rewritten_mb",
        fresh.map(treeBytes).sum / 1048576.0)
      layers.count(s"operators.compact.$kind", "files",
        fresh.map(fileCount).sum)
    }
    rep.attempted += 1
    val before = gens(root)
    tr.span("operators.gc", s"gc-$kind")(ctl("gc", root.toString))
    layers.count("operators.gc", "collected", (before -- gens(root)).size)
    checkAssignment(kind, idCol, root, "compacted")
  }

  /** Every id in [0, n) served exactly once by the root's assignment. */
  private def checkAssignment(kind: String, idCol: String, root: Path,
                              state: String): Unit =
    tr.span("bench.check", s"assignment-$kind-$state") {
      val ids = Dedup.storeAssignment(spark, served(root), idCol)
        .selectExpr(s"CAST($idCol AS BIGINT)", "CAST(cluster_id AS BIGINT)")
        .collect().map(r => (r.getLong(0), r.getLong(1))).sortBy(_._1)
      val distinct = ids.map(_._1).distinct
      rep.check(ids.length == n && distinct.length == n &&
        distinct.headOption.contains(0L) &&
        distinct.lastOption.contains(n - 1), 1,
        s"$kind ($state): served assignment holds ${ids.length} rows / " +
          s"${distinct.length} ids, want each of $n ids once")
      ids.foreach { case (i, c) =>
        rep.digest.update(s"$kind:$i:$c;".getBytes(StandardCharsets.UTF_8))
      }
    }

  private def readLines(p: Path): Seq[JsonNode] =
    Files.readAllLines(p, StandardCharsets.UTF_8).asScala.toSeq
      .filter(_.nonEmpty).map(l => mapper.readTree(l))

  private def probeRound(r: Int, stores: Map[String, String],
                         measured: Int): Unit = {
    val setupT0 = System.nanoTime()
    val dir = in.resolve(f"probe/p$r%02d")
    val nBatches = man.get("probe_batches").asInt
    val (texts, vecs) = tr.span("bench.prep", s"p$r") {
      ((0 until nBatches).map(k => readLines(
        dir.resolve(f"text_$k%03d.jsonl")).map(j => StreamDoc(
          j.get("doc_id").asLong, j.get("ts").asLong, j.get("text").asText))),
       (0 until nBatches).map(k => readLines(
         dir.resolve(f"vec_$k%03d.jsonl")).map(j => StreamVec(
           j.get("vec_id").asLong, j.get("ts").asLong,
           j.get("embedding").elements().asScala.map(_.floatValue).toSeq))))
    }
    val tIn = MemoryStream[StreamDoc]
    val vIn = MemoryStream[StreamVec]
    val sinks = Map("text" -> f"pb_text_$r%02d", "vec" -> f"pb_vec_$r%02d")
    def start(k: String, df: => org.apache.spark.sql.DataFrame) =
      tr.span(s"streaming.probe_$k", s"p$r-start") {
        df.writeStream.format("memory").queryName(sinks(k))
          .outputMode("append").option("checkpointLocation",
            a.work.resolve("ckpt").resolve(sinks(k)).toString).start()
      }
    val qs = Map(
      "text" -> start("text", Streams.storeNearDupStream(tIn.toDF(),
        stores("cluster"))),
      "vec" -> start("vec", Streams.storeDedupStream(vIn.toDF(),
        stores("embed"))))
    def batch(k: String, b: Int): Double = {
      val q = qs(k)
      val op = if (b == 0) s"p$r-first" else s"p$r-b$b"
      tr.span(s"streaming.probe_$k", op) {
        tr.bindQuery(q.id.toString, tr.openSpan)
        val t0 = System.nanoTime()
        if (k == "text") tIn.addData(texts(b)) else vIn.addData(vecs(b))
        q.processAllAvailable()
        tr.bindQuery(q.id.toString, -1)
        (System.nanoTime() - t0) / 1e6
      }
    }
    var fed = 0
    try {
      rep.attempted += 2
      Seq("text", "vec").foreach(k =>
        layers.count(s"streaming.probe_$k", "first_batch_ms", batch(k, 0)))
      fed = 1
      rep.roundSetupNs += System.nanoTime() - setupT0
      while (fed <= measured && fed < nBatches) {
        rep.attempted += 2
        Seq("text" -> texts, "vec" -> vecs).foreach { case (k, rows) =>
          batchMs.getOrElseUpdate(k, mutable.ArrayBuffer()) += batch(k, fed)
          probed += rows(fed).size
        }
        fed += 1
      }
    } finally qs.foreach { case (k, q) =>
      tr.span(s"streaming.probe_$k", s"p$r-stop")(q.stop()) }
    tr.span("bench.check", s"p$r") {
      Seq("text" -> "doc_id", "vec" -> "vec_id").foreach { case (k, idCol) =>
        checkMatches(k, sinks(k), idCol, r, fed)
      }
    }
    tr.drain(spark)
    qs.foreach { case (k, q) =>
      tr.progressOf(q.id.toString).filter(_.batchId >= 1).foreach { p =>
        val span = s"streaming.probe_$k"
        layers.count(span, "query_planning_ms", p.planningMs)
        layers.count(span, "add_batch_ms", p.addBatchMs)
        layers.count(span, "wal_commit_ms", p.walCommitMs)
        layers.count(span, "state_rows", p.stateRows)
      }
    }
    // the next round starts from parquet, not from this round's cached
    // static sides
    spark.catalog.clearCache()
  }

  /** Every planted near-dup fed in round `r` is matched to its source. */
  private def checkMatches(kind: String, sink: String, idCol: String,
                           r: Int, fed: Int): Unit = {
    val pairs = spark.table(sink)
      .selectExpr(s"CAST($idCol AS BIGINT)", "CAST(owner_id AS BIGINT)")
      .collect().map(x => (x.getLong(0), x.getLong(1)))
    val owners = pairs.groupBy(_._1).map { case (k, v) =>
      k -> v.map(_._2).toSet }
    val truth = man.get("truth").get("planted").get(r)
    val limit = man.get("probe_id_base").asLong + r * 1000000L +
      fed * man.get("probe_batch_size").asLong
    val due = truth.get(kind).elements().asScala
      .map(p => (p.get(0).asLong, p.get(1).asLong)).filter(_._1 < limit).toSeq
    val missed = due.filterNot { case (pid, src) =>
      owners.get(pid).exists(_.contains(src)) }
    rep.check(missed.isEmpty, missed.size,
      s"p$r $kind: ${missed.size} of ${due.size} planted near-dups " +
        s"unmatched, e.g. ${missed.take(3).mkString(", ")}")
    layers.count(s"streaming.probe_$kind", "matches", pairs.length)
    pairs.sorted.foreach { case (i, o) =>
      rep.digest.update(s"$kind:$i:$o;".getBytes(StandardCharsets.UTF_8)) }
  }

  def run(): Unit = {
    rep.readyNs = System.nanoTime()
    val roots = kinds.map { case (kind, idCol) =>
      val root = a.work.resolve("stores").resolve(kind)
      ingest(kind, idCol, root)
      kind -> root
    }.toMap
    val stores = roots.map { case (k, root) => k -> served(root) }
    val storedBytes = roots.values.map(r =>
      chain(r).map(g => treeBytes(Paths.get(g))).sum).sum
    // a fixed count per run, so every run measures the same batch
    // positions (state fills for delay / tick batches, then each batch
    // also evicts); about --seconds on a 4-core box
    val rounds = man.get("probe_rounds").asInt
    val measured = math.max(3, math.round(a.seconds * 1.25 / rounds).toInt)
    (0 until rounds).foreach(r => probeRound(r, stores, measured))
    kinds.foreach { case (kind, idCol) => nightly(kind, idCol, roots(kind)) }

    val advP50 = kinds.map { case (k, _) =>
      k -> SpanMath.median(advanceNs(k).map(_ / 1e6)) }.toMap
    val probeP50 = Seq("text", "vec").map(k =>
      k -> SpanMath.median(batchMs(k))).toMap
    val foldNs = advanceNs.values.flatten.sum + compactNs.sum
    rep.e2e("items_per_s") = (folded / (foldNs / 1e9), "items/s")
    rep.e2e("latency_ms_p50") = (SpanMath.geomean(probeP50.values), "ms")
    rep.e2e("bytes_per_item") = (storedBytes.toDouble / (2 * n), "B/item")
    kinds.foreach { case (k, _) =>
      rep.detail(s"store_build_${k}_s") = (buildNs(k) / 1e9, "s")
      rep.detail(s"store_advance_${k}_s_p50") = (advP50(k) / 1e3, "s")
    }
    rep.detail("store_ingest_docs_per_s") =
      (rep.e2e("items_per_s")._1, "docs/s")
    rep.detail("store_bytes_per_doc") = (rep.e2e("bytes_per_item")._1, "B/doc")
    Seq("text", "vec").foreach { k =>
      val xs = batchMs(k)
      rep.detail(s"probe_${k}_batch_ms_p50") = (probeP50(k), "ms")
      rep.detail(s"probe_${k}_batch_ms_p90") = (SpanMath.pct(xs, 0.9), "ms")
      rep.detail(s"probe_${k}_batches") = (xs.size.toDouble, "count")
    }
  }
}

/** Checks of the stub endpoint and the retry accounting, no Spark. */
object Selftest {
  def run(): String = {
    val cfg = JiraConfig(baseUrl = "http://jira.stub/search",
      projects = Seq("P"), maxResults = 2, politeDelaySeconds = 1.0,
      rateLimitSleepSeconds = 5.0, retryBackoffBase = 2.0, maxRetries = 3)
    def page(start: Int, n: Int, total: Int): String =
      s"""{"startAt":$start,"maxResults":2,"total":$total,"issues":[""" +
        (0 until n).map(i => s"""{"key":"P-${start + i + 1}","fields":{}}""")
          .mkString(",") + "]}"
    val dir = Files.createTempDirectory("perfbench_selftest")
    try {
      val stub = new StubJiraHttp(
        Map("P_0" -> page(0, 2, 3), "P_2" -> page(2, 1, 3)),
        Map("P_0" -> Seq(429, 500), "P_2" -> Seq(503)))
      val sleeps = mutable.ArrayBuffer[Double]()
      val r = JiraSource.fetchAll(cfg, dir.resolve("raw"),
        new Checkpoints(dir.resolve("ck")), stub, s => sleeps += s)
      val failing = new StubJiraHttp(Map("P_0" -> page(0, 2, 2)),
        Map("P_0" -> Seq(500, 500, 500, 500)))
      val r2 = JiraSource.fetchAll(cfg, dir.resolve("raw2"),
        new Checkpoints(dir.resolve("ck2")), failing, _ => ())
      val m = new ObjectMapper()
      val o = m.createObjectNode()
      o.put("requests", stub.requests).put("failures", stub.scriptedFailures)
      val s = o.putArray("sleeps")
      sleeps.foreach(x => s.add(x))
      o.put("pages", r.headOption.flatMap(_.toOption).map(_.pages).getOrElse(-1))
      o.put("issues", r.headOption.flatMap(_.toOption).map(_.issues)
        .getOrElse(-1))
      o.put("expected_backoff", StubJiraHttp.expectedBackoff(Seq(429, 500),
        5.0, 2.0) + StubJiraHttp.expectedBackoff(Seq(503), 5.0, 2.0))
      o.put("exhausted_fails", r2.headOption.exists(_.isLeft))
      o.put("exhausted_requests", failing.requests)
      m.writeValueAsString(o)
    } finally PerfBench.deleteTree(dir)
  }
}
