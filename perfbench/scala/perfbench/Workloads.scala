package perfbench

import graft.io.{Ingest, SyntheticDocs, TableIO}
import graft.model.{Doc, RawDoc}
import graft.pipeline.{Pipeline, Runner, SpanOps}
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

/** Result of one timed pass: docs it produced and an order-independent
  * digest of its output, which must equal the oracle-verified digest.
  * `ok` is false when the pass's own checks failed. `phases` holds named
  * sub-timings (seconds) when the pass has phases; `seconds`, when set, is
  * the pass's timed span (untimed checks excluded).
  */
final case class Pass(docs: Long, digest: Long, ok: Boolean = true,
    phases: Map[String, Double] = Map.empty, seconds: Option[Double] = None)

/** Oracle verdict over the warm-up pass: docs attempted, docs whose output
  * was missing, unexpected or different from the oracle, and the digests
  * every later full / quarter pass must reproduce (`None`: the first
  * quarter pass that passes its own checks sets it).
  */
final case class Verdict(attempted: Long, failed: Long, digest: Long,
    quarterDigest: Option[Long], notes: Seq[String])

/** Settings shared by all workloads, all from the benchmark's arguments. */
final case class Env(seed: Long, fixtures: Fixtures, workDir: String)

/** A workload's input is staged in two slices, `q0` (the first quarter of
  * the docs) and `q1` (the rest; `commit_resume` splits both its base and
  * its grown corpus this way). A full pass reads both; a quarter pass
  * reads `q0` only and gives the single-core runs the same work per core
  * as the full runs on four cores.
  */
trait Workload {
  def name: String
  /** Docs one timed pass attempts (the unit of `attempted`). */
  def docsPerPass(quarter: Boolean): Long
  /** Fixture-cache entry holding the staged inputs. */
  def dir: String
  /** Stage the seeded inputs unless cached; seconds spent generating. */
  def stage(spark: SparkSession): Double
  /** Directory holding the staged inputs (page-cache warm-up, listing). */
  def inputDir: String
  /** The timed job. */
  def run(spark: SparkSession, quarter: Boolean): Pass
  /** Oracle check of the full warm-up pass `warm` (untimed). */
  def verify(spark: SparkSession, warm: Pass): Verdict
  /** The workload's full raw input as the timed job reads it. */
  def input(spark: SparkSession): Dataset[RawDoc]
  /** The full timed job without its final shuffle stage (prefix passes). */
  def prefix(spark: SparkSession): DataFrame
}

object Workload {
  def apply(name: String, env: Env): Workload = name match {
    case "interleaved" => new Interleaved(env)
    case "binary" => new Binary(env)
    case "commit_resume" => new CommitResume(env)
    case other => throw new IllegalArgumentException(s"unknown workload: $other")
  }

  /** count + XOR of per-row 64-bit hashes: order-independent, no overflow. */
  def digest(df: DataFrame, cols: String*): (Long, Long) = {
    val r = df.agg(count(lit(1)), coalesce(bit_xor(xxhash64(cols.map(col): _*)), lit(0L))).head()
    (r.getLong(0), r.getLong(1))
  }

  /** `(doc_id, expected spans)` straight from the generator. */
  def expectedSpans(spark: SparkSession, seed: Long, from: Long, until: Long): DataFrame = {
    import spark.implicits._
    spark.range(from, until, 1, 16).map { i =>
      val g = SyntheticDocs.generate(seed, i)
      (g.raw.doc_id, g.expected)
    }.toDF("doc_id", "expected")
  }

  /** Docs of `out` (doc_id, spans) missing from, extra to, or different
    * from the generator's expected span sequence `(kind, text, media_ref,
    * offset)`.
    */
  def spanMismatches(out: DataFrame, expected: DataFrame): Long =
    out.select(col("doc_id"), col("spans"))
      .join(expected, Seq("doc_id"), "full_outer")
      .filter(col("spans").isNull || col("expected").isNull || col("spans") =!= col("expected"))
      .count()

  /** Stage docs [0, until) of the seeded corpus in one job as `files`
    * parquet tasks, split into the directories `dir/part=<name>` by doc
    * index (`parts`: name → first index, ascending); returns each part's
    * generator-truth digest of its expected spans.
    */
  def stageCorpus(spark: SparkSession, seed: Long, until: Long, files: Int,
      parts: Seq[(String, Long)], dir: String): Map[String, Long] = {
    import spark.implicits._
    val bounds = parts.map(_._2).toArray
    val names = parts.map(_._1).toArray
    val gen = spark.range(0, until, 1, files).map { i =>
      val g = SyntheticDocs.generate(seed, i)
      (g.raw, g.expected, names(bounds.lastIndexWhere(_ <= i)))
    }.toDF("raw", "expected", "part").cache()
    try {
      gen.select(col("raw.*"), col("part")).write.partitionBy("part").parquet(dir)
      gen.groupBy("part").agg(bit_xor(xxhash64(col("raw.doc_id"), col("expected"))))
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    } finally gen.unpersist()
  }

  /** Generator-truth digests (full, quarter) staged beside a corpus: timed
    * passes are checked against them without regenerating anything.
    */
  def writeOracleDigests(dir: String, full: Long, quarter: Long): Unit =
    java.nio.file.Files.write(java.nio.file.Paths.get(dir, "oracle-digest"),
      s"$full $quarter".getBytes("UTF-8"))

  def readOracleDigests(dir: String): (Long, Long) = {
    val Array(f, q) = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(dir, "oracle-digest")), "UTF-8").trim.split(" ")
    (f.toLong, q.toLong)
  }
}

/** North-rule job: staged parquet → extract → docs → explode → skew-aware
  * assemble; every doc's span sequence checked against the generator.
  */
final class Interleaved(env: Env) extends Workload {
  val name = "interleaved"
  private val n = 24000L
  def docsPerPass(quarter: Boolean): Long = if (quarter) n / 4 else n
  val dir = env.fixtures.dir(name, env.seed, s"n$n")
  val inputDir = s"$dir/corpus"

  def stage(spark: SparkSession): Double = env.fixtures.ensure(dir) { d =>
    val q = Workload.stageCorpus(spark, env.seed, n, 16, Seq("q0" -> 0L, "q1" -> n / 4), s"$d/corpus")
    Workload.writeOracleDigests(d, q("q0") ^ q("q1"), q("q0"))
  }

  private def read(spark: SparkSession, quarter: Boolean): Dataset[RawDoc] = {
    import spark.implicits._
    (if (quarter) spark.read.parquet(s"$inputDir/part=q0")
    else spark.read.parquet(s"$inputDir/part=q0", s"$inputDir/part=q1")).as[RawDoc]
  }

  def input(spark: SparkSession): Dataset[RawDoc] = read(spark, quarter = false)

  private def prefixOf(raw: Dataset[RawDoc]): DataFrame =
    SpanOps.explodeSpans(Pipeline.toDocsDF(Pipeline.extract(raw)))

  def prefix(spark: SparkSession): DataFrame = prefixOf(input(spark))

  private def job(spark: SparkSession, quarter: Boolean): DataFrame =
    SpanOps.assembleSkewAware(prefixOf(read(spark, quarter)))

  def run(spark: SparkSession, quarter: Boolean): Pass = {
    val (docs, d) = Workload.digest(job(spark, quarter), "doc_id", "spans")
    Pass(docs, d)
  }

  def verify(spark: SparkSession, warm: Pass): Verdict = {
    val (full, quarter) = Workload.readOracleDigests(dir)
    val bad =
      if (warm.digest == full && warm.docs == n) 0L
      else Workload.spanMismatches(job(spark, quarter = false),
        Workload.expectedSpans(spark, env.seed, 0, n))
    Verdict(n, bad, full, Some(quarter), Seq(s"span-sequence mismatches: $bad of $n docs"))
  }
}

/** Byte-real parsers: a seeded file tree → Ingest → extract → docs. */
final class Binary(env: Env) extends Workload {
  val name = "binary"
  private val n = 2000L
  def docsPerPass(quarter: Boolean): Long = if (quarter) n / 4 else n
  val dir = env.fixtures.dir(name, env.seed, s"n$n")
  val inputDir = s"$dir/tree"
  private def manifest = s"$dir/expect.tsv"

  def stage(spark: SparkSession): Double = env.fixtures.ensure(dir) { d =>
    import spark.implicits._
    val (seed, quarterEnd) = (env.seed, n / 4)
    val tree = s"$d/tree"
    val lines = spark.range(0, n, 1, 16).map { i =>
      val f = BinaryCorpus.spec(seed, i.toInt)
      val rel = s"${if (i < quarterEnd) "q0" else "q1"}/${f.relPath}"
      val p = java.nio.file.Paths.get(tree, rel)
      java.nio.file.Files.createDirectories(p.getParent)
      java.nio.file.Files.write(p, f.bytes)
      f.expect match {
        case BinaryCorpus.Ok(title, pages, ls) =>
          Seq(rel, f.kind, "ok", title, pages.toString, ls.mkString("\u001f")).mkString("\t")
        case BinaryCorpus.Fail => Seq(rel, f.kind, "fail", "", "0", "").mkString("\t")
      }
    }.collect()
    java.nio.file.Files.write(java.nio.file.Paths.get(s"$d/expect.tsv"),
      lines.mkString("", "\n", "\n").getBytes("UTF-8"))
  }

  private def read(spark: SparkSession, quarter: Boolean): Dataset[RawDoc] =
    if (quarter) Ingest.fromDirectory(spark, inputDir, pattern = "q0/**")
    else Ingest.fromDirectory(spark, inputDir)

  def input(spark: SparkSession): Dataset[RawDoc] = read(spark, quarter = false)

  private def docsOf(raw: Dataset[RawDoc]): DataFrame = Pipeline.toDocsDF(Pipeline.extract(raw))

  def prefix(spark: SparkSession): DataFrame = docsOf(input(spark))

  def run(spark: SparkSession, quarter: Boolean): Pass = {
    val (docs, d) = Workload.digest(docsOf(read(spark, quarter)), "doc_id", "title", "page_count", "spans")
    Pass(docs, d)
  }

  def verify(spark: SparkSession, warm: Pass): Verdict = {
    val out = Pipeline.extract(input(spark)).toDF()
    val rows = out
      .select(col("doc_id"), col("failure"), col("title"), col("page_count"),
        concat_ws("\n", transform(filter(col("spans"), s => s("kind") === "text"), s => s("text"))))
      .collect()
    val got = rows.groupBy(_.getString(0))
    val expect = scala.io.Source.fromFile(manifest, "UTF-8").getLines().filter(_.nonEmpty)
      .map(_.split("\t", -1)).map(a => a(0) -> a).toMap
    val notes = Seq.newBuilder[String]
    var bad = 0L
    expect.foreach { case (path, e) =>
      val ok = got.get(path) match {
        case Some(Array(r)) if e(2) == "fail" => r.getString(1).nonEmpty
        case Some(Array(r)) =>
          r.getString(1).isEmpty && r.getString(2) == e(3) && r.getInt(3) == e(4).toInt &&
            inOrder(r.getString(4), if (e(5).isEmpty) Nil else e(5).split("\u001f").toSeq)
        case _ => false
      }
      if (!ok) {
        bad += 1
        if (bad <= 5) notes += s"oracle mismatch ${e(1)} $path: got ${got.get(path).map(_.mkString("[", " | ", "]"))}"
      }
    }
    val extra = got.keySet.diff(expect.keySet).size
    if (extra > 0) notes += s"$extra unexpected output rows"
    // the quarter slice's rows are a subset of the verified full output
    val (_, quarter) = Workload.digest(prefix(spark).filter(col("doc_id").startsWith("q0/")),
      "doc_id", "title", "page_count", "spans")
    Verdict(n, bad + extra, warm.digest, Some(quarter),
      notes.result() :+ s"oracle mismatches: ${bad + extra} of $n files")
  }

  /** Every expected line occurs in `text`, in the given order. */
  private def inOrder(text: String, lines: Seq[String]): Boolean = {
    var from = 0
    lines.forall { l =>
      val at = text.indexOf(l, from)
      if (at >= 0) from = at + l.length
      at >= 0
    }
  }
}

/** Write + resume path. A pass is one cycle in fresh table directories:
  * (1) commit the seeded corpus with `Runner.run`, (2) rerun over the
  * corpus grown by a tenth, which must skip exactly the committed ids,
  * (3) read the snapshot back and chunk it. After every cycle (untimed)
  * the table must hold every id once with the generator's spans and its
  * lineage rows must sum to the committed docs.
  */
final class CommitResume(env: Env) extends Workload {
  val name = "commit_resume"
  private val base = 6000L
  private val grown = 600L
  def docsPerPass(quarter: Boolean): Long = if (quarter) (base + grown) / 4 else base + grown
  val dir = env.fixtures.dir(name, env.seed, s"n$base")
  val inputDir = dir
  private var cycle = 0

  def stage(spark: SparkSession): Double = env.fixtures.ensure(dir) { d =>
    val q = Workload.stageCorpus(spark, env.seed, base + grown, 8,
      Seq("base_q0" -> 0L, "base_q1" -> base / 4, "grown_q0" -> base, "grown_q1" -> (base + grown / 4)), d)
    Workload.writeOracleDigests(d, q.values.reduce(_ ^ _), q("base_q0") ^ q("grown_q0"))
  }

  private def read(spark: SparkSession, parts: Seq[String]): Dataset[RawDoc] = {
    import spark.implicits._
    spark.read.parquet(parts.map(p => s"$dir/$p"): _*).as[RawDoc]
  }

  private def baseParts(quarter: Boolean) =
    if (quarter) Seq("part=base_q0") else Seq("part=base_q0", "part=base_q1")
  private def grownParts(quarter: Boolean) =
    if (quarter) Seq("part=grown_q0") else Seq("part=grown_q0", "part=grown_q1")

  def input(spark: SparkSession): Dataset[RawDoc] = read(spark, baseParts(false) ++ grownParts(false))

  def prefix(spark: SparkSession): DataFrame =
    Pipeline.toDocsDF(Pipeline.extract(read(spark, baseParts(false))))

  def run(spark: SparkSession, quarter: Boolean): Pass = {
    import spark.implicits._
    val (nBase, nAll) = if (quarter) (base / 4, (base + grown) / 4) else (base, base + grown)
    cycle += 1
    val root = s"${env.workDir}/cycle-$cycle"
    Fixtures.deleteRecursively(new java.io.File(root))
    val (table, metrics) = (s"$root/docs", s"$root/metrics")
    try {
      val t0 = System.nanoTime()
      val r1 = Runner.run(read(spark, baseParts(quarter)), table, metrics)
      val t1 = System.nanoTime()
      val r2 = Runner.run(read(spark, baseParts(quarter) ++ grownParts(quarter)), table, metrics)
      val t2 = System.nanoTime()
      val chunks = Pipeline.chunk(TableIO.read(spark, table).get.as[Doc])
      val (nChunks, chunkDigest) = Workload.digest(chunks.toDF(), "doc_id", "chunk_index", "content")
      val t3 = System.nanoTime()

      // exactly-once: the rerun skipped exactly the committed ids, the table
      // holds every id once with oracle-equal spans, lineage sums match
      val state = TableIO.read(spark, table).get
        .agg(count(lit(1)), countDistinct(col("doc_id")), coalesce(bit_xor(xxhash64(col("doc_id"), col("spans"))), lit(0L)))
        .head()
      val (rows, distinct, spanDigest) = (state.getLong(0), state.getLong(1), state.getLong(2))
      val lineage = TableIO.read(spark, metrics).get
        .agg(coalesce(sum(col("doc_count")), lit(0L))).head().getLong(0)
      val (full, quarterRef) = Workload.readOracleDigests(dir)
      val exact = r1.docsProcessed == nBase && r1.failures == 0 && r1.skippedAlreadyDone == 0 &&
        r2.docsProcessed == nAll - nBase && r2.failures == 0 && r2.skippedAlreadyDone == nBase &&
        rows == nAll && distinct == nAll && lineage == nAll &&
        spanDigest == (if (quarter) quarterRef else full)
      if (!exact)
        println(s"exactly-once violated: commit=$r1 resume=$r2 rows=$rows distinct=$distinct lineage=$lineage")
      // the digest covers the chunk count too: a cycle matches only if both do
      Pass(r1.docsProcessed + r2.docsProcessed, chunkDigest ^ nChunks, exact,
        Map("commit_s" -> (t1 - t0) / 1e9, "resume_s" -> (t2 - t1) / 1e9, "chunk_s" -> (t3 - t2) / 1e9,
          "commit_docs" -> r1.docsProcessed.toDouble, "chunk_docs" -> rows.toDouble),
        Some((t3 - t0) / 1e9))
    } finally Fixtures.deleteRecursively(new java.io.File(root))
  }

  def verify(spark: SparkSession, warm: Pass): Verdict =
    Verdict(base + grown, if (warm.ok) 0L else base + grown, warm.digest, None,
      Seq(s"warm-up cycle exactly-once and oracle-equal spans: ${warm.ok}"))
}
