package perfbench

import graft.io.{Ingest, SyntheticDocs, TableIO}
import graft.model.{Doc, RawDoc}
import graft.pipeline.{Pipeline, Resume}
import org.apache.spark.perfbenchbus.Bus
import org.apache.spark.sql.SparkSession
import scala.collection.mutable.ArrayBuffer

/** The extraction benchmark. One run = one workload, one seed:
  *
  * {{{
  * perfbench.Main --workload interleaved|binary|commit_resume --seed N
  *                --seconds S --trace 0|1 --stage 0|1
  *                --fixtures DIR --fixture-key K --work DIR --trace-out FILE
  * }}}
  *
  * `--stage 1` only stages the workload's fixtures unless they are cached,
  * so that a run's set-up never includes generation. Untraced
  * (`--trace 0`): set up from process start (session, fixture-cache check,
  * page-cache warm-up, warm-up pass), check that pass against the oracle,
  * then time passes in a `local[C]` window over the full input and a
  * `local[1]` window over its first quarter, half the seconds each, with C
  * the usable cores. Traced (`--trace 1`): the same set-up and oracle
  * check, untraced and traced passes alternating, and per-layer probes.
  *
  * Every timed pass must reproduce the oracle-verified output digest; a
  * pass that throws or differs counts all its docs as failed and adds no
  * time sample. The last stdout line is the result JSON.
  */
object Main {

  final case class Args(workload: String, seed: Long, seconds: Double, trace: Boolean,
      stage: Boolean, fixtures: String, fixtureKey: String, work: String, traceOut: String)

  private def parse(a: Array[String]): Args = {
    val m = a.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def get(k: String) = m.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    Args(get("workload"), get("seed").toLong, get("seconds").toDouble, get("trace") == "1",
      get("stage") == "1", get("fixtures"), get("fixture-key"), get("work"), get("trace-out"))
  }

  /** `local[N]` parallelism of the wide runs: the cores this process may use. */
  private val cores = Runtime.getRuntime.availableProcessors()

  private val t0 = System.nanoTime()
  private def log(s: String): Unit = { println(f"[${secs(t0)}%7.2f] $s"); Console.flush() }

  private def secs(t0: Long): Double = (System.nanoTime() - t0) / 1e9

  private def timed[T](body: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = body
    (r, secs(t0))
  }

  private def session(cores: Int): SparkSession = {
    val s = Pipeline.session(s"local[$cores]", cores, "perfbench")
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  /** Attempted / failed doc tally across the oracle check and timed passes. */
  final class Tally {
    var attempted = 0L
    var failed = 0L
    val notes = ArrayBuffer.empty[String]
  }

  /** Digests every full / quarter pass must reproduce; an unset quarter
    * digest is taken from the first quarter pass that passes its own checks.
    */
  final class Refs(val full: Long, var quarter: Option[Long])

  /** Timed passes, started while fewer than `budget` seconds have passed
    * (at least `minPasses`); returns the successful passes with their timed
    * seconds.
    */
  private def window(w: Workload, spark: SparkSession, budget: Double, minPasses: Int,
      quarter: Boolean, refs: Refs, tally: Tally, trace: Trace, label: String): Seq[(Pass, Double)] = {
    val out = ArrayBuffer.empty[(Pass, Double)]
    val start = System.nanoTime()
    val docs = w.docsPerPass(quarter)
    var tries = 0
    while (tries < minPasses || secs(start) < budget) {
      tries += 1
      val passStart = System.nanoTime()
      tally.attempted += docs
      try {
        val (p, wall) = trace.span(s"$label.pass")(timed(w.run(spark, quarter)))
        if (quarter && refs.quarter.isEmpty && p.ok) refs.quarter = Some(p.digest)
        val ref = if (quarter) refs.quarter else Some(refs.full)
        if (p.ok && p.docs > 0 && ref.contains(p.digest)) out += ((p, p.seconds.getOrElse(wall)))
        else {
          tally.failed += docs
          tally.notes += s"$label pass $tries: output differs from the oracle-verified digest"
        }
      } catch {
        case e: Exception =>
          tally.failed += docs
          tally.notes += s"$label pass $tries threw ${e.getClass.getSimpleName}: ${e.getMessage}"
      }
      log(f"$label pass $tries: ${secs(passStart)}%.3f s")
    }
    out.toSeq
  }

  /** Set-up from process start: session, fixture-cache check, page-cache
    * warm-up, warm-up pass. Returns the session, the warm-up pass (checked
    * against the oracle) and the set-up seconds (fixture generation, if the
    * cache missed after all, excluded).
    */
  private def setup(w: Workload): (SparkSession, Pass, Double) = {
    val jvmStartMs = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime
    val since = System.nanoTime() - (System.currentTimeMillis() - jvmStartMs) * 1000000L
    val spark = session(cores)
    val gen = w.stage(spark)
    if (gen > 0) log(f"fixture generated in $gen%.3f s (not part of set-up)")
    Fixtures.warmPageCache(w.inputDir)
    val warm = w.run(spark, quarter = false)
    val total = secs(since) - gen
    log(f"set-up: $total%.3f s")
    (spark, warm, total)
  }

  /** `--stage 1`: stage the fixtures unless cached, in a process of its own. */
  private def stageOnly(w: Workload, fixtures: Fixtures): Unit =
    if (fixtures.ready(w.dir)) log("fixtures cached")
    else {
      val spark = session(cores)
      try log(f"fixtures generated in ${w.stage(spark)}%.3f s")
      finally spark.stop()
    }

  def main(argv: Array[String]): Unit = {
    val args = parse(argv)
    val fixtures = new Fixtures(args.fixtures, args.fixtureKey)
    val w = Workload(args.workload, Env(args.seed, fixtures, args.work))
    if (args.stage) return stageOnly(w, fixtures)
    val trace = new Trace(args.trace)
    val tally = new Tally
    log(s"perfbench workload=${w.name} seed=${args.seed} cores=$cores " +
      s"docs/pass=${w.docsPerPass(false)} window=${args.seconds}s trace=${args.trace}")

    val (spark, warm, setupS) = setup(w)
    val verdict = w.verify(spark, warm)
    verdict.notes.foreach(n => log(s"oracle: $n"))
    tally.attempted += verdict.attempted
    tally.failed += verdict.failed

    val refs = new Refs(verdict.digest, verdict.quarterDigest)
    val metrics =
      if (args.trace) traced(w, spark, args, refs, tally, trace)
      else untraced(w, spark, args, refs, tally, setupS)

    trace.write(java.nio.file.Paths.get(args.traceOut))
    tally.notes.take(10).foreach(n => log(s"failure: $n"))
    val failedFrac = tally.failed.toDouble / tally.attempted
    log(f"metric failed_frac            value=$failedFrac%.6f (failed ${tally.failed} of ${tally.attempted} attempted docs)")
    val body = metrics.map { case (k, (v, u)) => s""""$k":{"value":${fmt(v)},"unit":"$u"}""" }
      .mkString(",")
    println(s"""{"correct":${tally.failed == 0},"attempted":${tally.attempted},"failed":${tally.failed},"metrics":{$body}}""")
  }

  private def fmt(v: Double): String =
    if (v.isNaN || v.isInfinite) "null" else java.math.BigDecimal.valueOf(v).toPlainString

  private def rate(ps: collection.Seq[(Pass, Double)]): collection.Seq[Double] =
    ps.map { case (p, s) => p.docs / s }

  /** End-to-end metrics: set-up, throughput, scaling, peak heap.
    *
    * A wide window (full input, `local[cores]`) and then a narrow window
    * (the quarter slice, `local[1]`), half the seconds each.
    */
  private def untraced(w: Workload, spark0: SparkSession, args: Args, refs: Refs,
      tally: Tally, setupS: Double): Seq[(String, (Double, String))] = {
    val noTrace = new Trace(false)
    val half = 0.5 * args.seconds
    // memory the run keeps, read after a fixed amount of work (set-up and
    // one timed pass): the session retains state per job it has run, so a
    // reading after a time-boxed window would vary with its pass count
    val windowStart = System.nanoTime()
    val first = window(w, spark0, 0, 1, quarter = false, refs, tally, noTrace, s"local[$cores]")
    val peak = Heap.retainedMb()
    // at least two passes: the first pass after set-up is slower, so a
    // window that sometimes holds only that one would report it alone
    val wide = first ++ window(w, spark0, half - first.map(_._2).sum, 1, quarter = false, refs, tally,
      noTrace, s"local[$cores]")
    log(f"wide window: ${secs(windowStart)}%.3f s")
    spark0.stop()

    // a fresh session's first pass is slower: one untimed pass first, as
    // the wide session got from its set-up
    val spark1 = session(1)
    window(w, spark1, 0, 1, quarter = true, refs, tally, noTrace, "local[1] warm-up")
    val narrow = window(w, spark1, half, 1, quarter = true, refs, tally, noTrace, "local[1] quarter")
    spark1.stop()

    val dpsWide = rate(wide)
    val dpsNarrow = rate(narrow)
    val dps = Stats.median(dpsWide)
    val eff = dps / (cores * Stats.median(dpsNarrow))
    log(f"metric setup_s                value=$setupS%.4f s (from process start to the first timed pass)")
    log(Stats.describe("docs_per_sec", "docs/s", dpsWide, higherIsBetter = true))
    log(Stats.describe("docs_per_sec_local1", "docs/s", dpsNarrow, higherIsBetter = true) + " (quarter slice)")
    log(f"metric scaling_eff            value=$eff%.4f (local[$cores] median / ($cores x local[1] quarter-slice median))")
    log(f"metric peak_heap_mb           value=$peak%.1f MB")
    if (wide.exists(_._1.phases.nonEmpty)) {
      Seq("commit_s", "resume_s", "chunk_s").foreach { ph =>
        log(Stats.describe(s"phase.$ph", "s", wide.map(_._1.phases(ph)), higherIsBetter = false))
      }
      log(Stats.describe("commit_docs_per_sec", "docs/s",
        wide.map(_._1.phases).map(ph => ph("commit_docs") / ph("commit_s")), higherIsBetter = true))
      log(Stats.describe("chunk_docs_per_sec", "docs/s",
        wide.map(_._1.phases).map(ph => ph("chunk_docs") / ph("chunk_s")), higherIsBetter = true))
    }
    Seq(
      "setup_s" -> (setupS, "s"),
      "docs_per_sec" -> (dps, "docs/s"),
      "scaling_eff" -> (eff, "ratio"),
      "peak_heap_mb" -> (peak, "MB"))
  }

  /** Per-layer metrics from a listener, in-process timers and prefix passes. */
  private def traced(w: Workload, spark: SparkSession, args: Args, refs: Refs,
      tally: Tally, trace: Trace): Seq[(String, (Double, String))] = {
    val out = ArrayBuffer.empty[(String, (Double, String))]
    def put(k: String, v: Double, unit: String): Unit = { out += (k -> (v, unit)); log(f"layer $k%-34s $v%.4f $unit") }
    val sc = spark.sparkContext

    // untraced and traced passes alternate, so drift over the run cancels
    // out of the tracing overhead
    val listener = new StageListener
    val plain = ArrayBuffer.empty[(Pass, Double)]
    val traced = ArrayBuffer.empty[(Pass, Double)]
    val perPass = ArrayBuffer.empty[(Double, Seq[listener.StageAgg])]
    var readBytes = 0L
    val heapAfterGc = new HeapAfterGc
    val start = System.nanoTime()
    while (traced.size < 2 || secs(start) < 0.6 * args.seconds) {
      plain ++= window(w, spark, 0, 1, quarter = false, refs, tally, new Trace(false), "untraced")
      sc.addSparkListener(listener)
      Bus.drain(sc); listener.reset()
      val (passStart, read0) = (System.nanoTime(), ProcReads.bytes())
      traced ++= window(w, spark, 0, 1, quarter = false, refs, tally, trace, "traced")
      readBytes += ProcReads.bytes() - read0
      Bus.drain(sc)
      perPass += ((secs(passStart), listener.snapshot))
      sc.removeSparkListener(listener)
    }
    val heapAfterGcMax = heapAfterGc.maxMb
    heapAfterGc.close()
    val untracedDps = Stats.median(rate(plain))
    val tracedDps = Stats.median(rate(traced))
    put("trace.docs_per_sec", tracedDps, "docs/s")
    put("trace.overhead_docs_per_sec", untracedDps - tracedDps, "docs/s")

    val stagesAll = perPass.flatMap(_._2)
    val nPass = math.max(1, perPass.size)
    val runMs = stagesAll.map(_.runMs).sum.toDouble
    // bytes the traced passes read, less what they read back from shuffle
    put("io.read_mb", (readBytes - stagesAll.map(_.shuffleReadBytes).sum) / 1048576.0 / nPass, "MB")
    put("pipeline.shuffle_write_mb", stagesAll.map(_.shuffleWriteBytes).sum / 1048576.0 / nPass, "MB")
    put("pipeline.shuffle_records", stagesAll.map(_.shuffleWriteRecords).sum.toDouble / nPass, "count")
    put("pipeline.spill_mb", stagesAll.map(_.spillBytes).sum / 1048576.0 / nPass, "MB")
    val heaviest = perPass.map(_._2).filter(_.nonEmpty).map(_.maxBy(_.runMs))
    put("pipeline.task_p50_ms", Stats.median(heaviest.map(s => Stats.median(s.taskMs))), "ms")
    put("pipeline.task_max_ms", Stats.median(heaviest.map(_.taskMs.max)), "ms")
    put("pipeline.core_util", runMs / (perPass.map(_._1).sum * 1000.0 * cores), "ratio")
    put("pipeline.gc_frac", stagesAll.map(_.gcMs).sum / math.max(1.0, runMs), "ratio")
    put("pipeline.heap_after_gc_max_mb", heapAfterGcMax, "MB")
    perPass.headOption.foreach { case (_, stages) =>
      stages.foreach { s =>
        trace.count(s"stage.${s.stageId}.tasks", s.taskMs.size.toDouble)
        trace.count(s"stage.${s.stageId}.task_p50_ms", Stats.median(s.taskMs))
        trace.count(s"stage.${s.stageId}.task_max_ms", s.taskMs.max)
      }
    }

    // prefix passes: noop sink over the scan, scan+extract, and the job
    // minus its final shuffle stage
    def noop(df: org.apache.spark.sql.DataFrame): Unit = df.write.format("noop").mode("overwrite").save()
    def med3(name: String)(body: => Any): Double =
      Stats.median((1 to 3).map(_ => trace.span(name)(timed(body)._2)))
    val scan = med3("io.scan")(noop(w.input(spark).toDF()))
    val scanExtract = med3("extract.stage")(
      noop(Pipeline.toDocsDF(Pipeline.extract(w.input(spark)))))
    val prefix = med3("pipeline.prefix")(noop(w.prefix(spark)))
    put("io.scan_s", scan, "s")
    put("extract.stage_s", scanExtract - scan, "s")
    put("pipeline.assemble_s", Stats.median(traced.map(_._2)) - prefix, "s")

    put("io.ingest_list_s", med3("io.ingest_list")(
      Ingest.fromDirectory(spark, w.inputDir, pattern = "**/*.perfbench-matches-nothing").count()), "s")

    // commit probe: the workload's docs materialized once (untimed), then
    // one TableIO.commit of them timed on its own
    val probe = s"${args.work}/probe"
    Fixtures.deleteRecursively(new java.io.File(probe))
    Pipeline.toDocsDF(Pipeline.extract(w.input(spark))).write.parquet(s"$probe/docs-src")
    sc.addSparkListener(listener)
    Bus.drain(sc); listener.reset()
    val commitS = trace.span("io.commit")(timed(
      TableIO.commit(spark.read.parquet(s"$probe/docs-src"), s"$probe/table"))._2)
    Bus.drain(sc)
    put("io.commit_s", commitS, "s")
    put("io.write_mb", listener.snapshot.map(_.outputBytes).sum / 1048576.0, "MB")
    sc.removeSparkListener(listener)

    put("pipeline.resume_antijoin_s", med3("pipeline.resume_antijoin")(
      Resume.filterProcessed(w.input(spark).toDF(),
        TableIO.read(spark, s"$probe/table").get.select("doc_id")).count()), "s")
    val committed = TableIO.read(spark, s"$probe/table").get.count()
    val chunkS = med3("chunk.read_back")({
      import spark.implicits._
      Pipeline.chunk(TableIO.read(spark, s"$probe/table").get.as[Doc]).count()
    })
    put("chunk.docs_per_sec", committed / chunkS, "docs/s")
    Fixtures.deleteRecursively(new java.io.File(probe))

    // in-process, single-threaded per-kind extract and chunk timers
    Samples.extractSamples(args.seed).foreach { case (kind, docs) =>
      put(s"extract.us_per_doc.$kind", trace.span(s"extract.one.$kind")(Samples.usPerCall(docs)(Pipeline.extractOne)), "us")
    }
    val chunkDocs = Samples.chunkSample(args.seed)
    put("chunk.us_per_doc", trace.span("chunk.one")(
      Samples.usPerCall(chunkDocs)(d => graft.chunk.Chunkers.markdownChunks(d, 1500, 50))), "us")
    put("chunk.chunks", chunkDocs.map(d => graft.chunk.Chunkers.markdownChunks(d, 1500, 50).size).sum.toDouble, "count")
    spark.stop()
    out.toSeq
  }
}

/** Fixed seeded samples for the in-process, single-threaded layer timers. */
object Samples {
  val PerKind = 100

  /** `PerKind` raw docs of each of the 9 synthetic payload kinds and of
    * each of the 12 byte-parser kinds (`*_bytes`, via the real
    * `Ingest.toRawDoc` routing; `.ppt` and `.doc` with an explicit MIME,
    * as directory ingestion does not admit them).
    */
  def extractSamples(seed: Long): Seq[(String, Seq[RawDoc])] = {
    val synthetic = SyntheticDocs.PayloadKinds.map { k =>
      k -> Iterator.from(0).filter(i => SyntheticDocs.payloadKindFor(i.toLong) == k)
        .take(PerKind).map(i => SyntheticDocs.generate(seed, i.toLong).raw).toSeq
    }
    val files = Iterator.from(0).map(i => BinaryCorpus.spec(seed, i))
      .filter(_.expect != BinaryCorpus.Fail).map(f => Ingest.toRawDoc(f.relPath, f.bytes))
      .take(PerKind * 40).toSeq
    val bytes = files.groupBy(_.payload_kind).toSeq.sortBy(_._1).map { case (k, ds) => k -> ds.take(PerKind) }
    val ppt = "ppt_bytes" -> (0 until PerKind).map { i =>
      val slides = (1 to 1 + i % 3).map(p => (s"Slide $i-$p", Seq(s"Point $p of deck $i")))
      Ingest.toRawDoc(s"deck$i.ppt", graft.extract.PptExtract.buildPpt(s"Deck $i", slides),
        "application/vnd.ms-powerpoint")
    }
    val doc = "doc_bytes" -> (0 until PerKind).map { i =>
      val paras = (0 to 1 + i % 3).map(p => s"Paragraph $p of document $i")
      Ingest.toRawDoc(s"word$i.doc", graft.extract.DocExtract.buildDoc(s"Word $i", paras, Seq(1)),
        "application/msword")
    }
    synthetic ++ (bytes :+ ppt :+ doc).sortBy(_._1)
  }

  /** Generator-truth docs for the chunker timer. */
  def chunkSample(seed: Long): Seq[Doc] =
    (0L until 1000L).map { i =>
      val g = SyntheticDocs.generate(seed, i)
      Doc(g.raw.doc_id, g.expected)
    }

  /** Median microseconds per call over 5 rounds after one warm-up round. */
  def usPerCall[A](xs: Seq[A])(f: A => Any): Double = {
    xs.foreach(f)
    Stats.median((1 to 5).map { _ =>
      val t0 = System.nanoTime()
      xs.foreach(f)
      (System.nanoTime() - t0) / 1e3 / xs.size
    })
  }
}
