package graftbench

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._

import graft.fixtures.CorpusGen
import graft.model.Doc
import graft.pipeline.{Extract, SpanExtract}
import graft.queries.QCache
import graft.resume.ResumableExtract

/** Documents and spans one pass of a workload processes. */
final case class Sizes(docs: Long, spans: Long)

/** Outcome of the output checks: items checked and items that failed. */
final case class Check(attempted: Long, failed: Long, notes: Vector[String]) {
  def +(o: Check): Check = Check(attempted + o.attempted, failed + o.failed, notes ++ o.notes)
}

/** One benchmark workload. `generate` makes the input from the seed and
  * `setup` writes it under `dir` in the layout the program reads; `pass`
  * is the timed unit of work and may return per-layer measurements of
  * that pass; `check` verifies the outputs outside the timed region. */
trait Workload {
  type In
  def name: String
  def generate(seed: Long): In
  def setup(spark: SparkSession, in: In, dir: String): Sizes
  def beforePass(dir: String): Unit = ()
  /** Untimed clean-up after each pass. */
  def afterPass(spark: SparkSession): Unit = ()
  def pass(spark: SparkSession, dir: String): Map[String, Double]
  def check(spark: SparkSession, seed: Long, dir: String): Check
  /** A sample of the workload's own spans for the kernel timings. */
  def sample(seed: Long): Seq[KSpan]
  /** Untimed passes before the timed region (at least `warmPasses`, and
    * until `warmSeconds` have gone by; the JIT keeps improving pass times
    * for about that long), and the fewest and most timed passes. */
  def warmPasses: Int = 2
  def warmSeconds: Double = 10.0
  def minPasses: Int = 3
  def maxPasses: Int = Int.MaxValue
  /** Extra layers the traced run measures after the timed region. */
  def traced(spark: SparkSession, seed: Long, dir: String): (Map[String, Double], Check) =
    (Map.empty, Check(0, 0, Vector.empty))
}

object Workloads {
  val all: Seq[Workload] = Seq(Flagship, MegadocSkew, Dedup)
  def byName(n: String): Option[Workload] = all.find(_.name == n)

  def rmrf(p: Path): Unit =
    if (Files.exists(p)) Files.walk(p).iterator().asScala.toVector.reverse.foreach(Files.delete)

  def dirBytes(p: Path): Long =
    if (!Files.exists(p)) 0L
    else Files.walk(p).iterator().asScala.filter(Files.isRegularFile(_)).map(Files.size).sum

  def sizesOf(docs: Seq[Doc]): Sizes = Sizes(docs.size.toLong, docs.map(_.spans.size.toLong).sum)

  def kspans(docs: Seq[Doc]): Seq[KSpan] =
    docs.flatMap(_.spans.map(s => KSpan(s.kind, s.text, s.media_ref)))

  /** `k` seeded distinct indices below `n`. */
  def sampleIdx(seed: Long, n: Int, k: Int): Seq[Int] =
    Gen.shuffle((0 until n).toVector, new Gen.Rng(seed ^ 0x5A3E1EL)).take(k).sorted

  /** Input spans (doc_id, pos, kind, media_ref) of either input layout. */
  def inputSpans(input: DataFrame): DataFrame = {
    val ex =
      if (input.columns.contains("part_idx"))
        input.select(col("doc_id"), col("part_idx"), posexplode(col("spans")).as(Seq("p", "s")))
          .select(col("doc_id"), (col("part_idx").cast("int") * Extract.PartSize + col("p")).as("pos"), col("s"))
      else input.select(col("doc_id"), posexplode(col("spans")).as(Seq("pos", "s")))
    ex.select(col("doc_id"), col("pos"), col("s.kind").as("ik"), col("s.media_ref").as("im"))
  }

  /** Every doc: span count, kind and media_ref per position, and orders
    * contiguous from 0 (no gap, no duplicate). One attempt per input doc. */
  def structural(input: DataFrame, out: DataFrame): Check = {
    val in = inputSpans(input)
    val got = out.select(col("doc_id"), explode(col("span_seq")).as("sp"))
      .select(col("doc_id"), col("sp.order").as("pos"), col("sp.kind").as("ok"), col("sp.media_ref").as("om"))
    val dup = got.groupBy("doc_id", "pos").count().filter(col("count") > 1).select("doc_id")
    val bad = in.join(got, Seq("doc_id", "pos"), "full_outer")
      .filter(col("ik").isNull || col("ok").isNull || col("ik") =!= col("ok") || !(col("im") <=> col("om")))
      .select("doc_id").union(dup).distinct().count()
    val docs = input.select("doc_id").distinct().count()
    Check(docs, bad, if (bad > 0) Vector(s"structure differs on $bad of $docs docs") else Vector.empty)
  }

  /** Span-sequence equality on (kind, text, media_ref, order) against a
    * sequential fold of `SpanExtract.extractSpanText`. One attempt per doc. */
  def sequential(expected: Seq[Doc], out: DataFrame): Check = {
    val ids = expected.map(_.doc_id)
    val got = out.filter(col("doc_id").isin(ids: _*)).collect()
      .map(r => r.getString(0) -> r.getSeq[Row](1).map(s =>
        (s.getAs[String]("kind"), s.getAs[String]("text"), s.getAs[String]("media_ref"), s.getAs[Int]("order"))))
      .toMap
    val bad = Gen.parallel(expected.size, 4) { i =>
      val d = expected(i)
      val want = d.spans.zipWithIndex.map { case (s, k) =>
        (s.kind, SpanExtract.extractSpanText(s.kind, s.text, s.media_ref), s.media_ref, k)
      }
      if (got.get(d.doc_id).contains(want)) None else Some(d.doc_id)
    }.flatten
    Check(expected.size.toLong, bad.size.toLong,
      if (bad.nonEmpty) Vector(s"span sequence differs on ${bad.size} docs, e.g. ${bad.head}") else Vector.empty)
  }

  def writeCorpus(spark: SparkSession, docs: Seq[Doc], path: String, preSplit: Boolean, files: Int): Unit = {
    import spark.implicits._
    val df = spark.createDataset(docs).toDF()
    (if (preSplit) CorpusGen.preSplit(df) else df)
      .repartition(files).write.mode("overwrite").parquet(path)
  }

  def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()
}

import Workloads._

/** The flagship: flagship-style docs in the pre-split layout, extracted
  * into a noop sink. The kernels do most of the work. */
object Flagship extends Workload {
  val name = "flagship"
  val Docs = 4016 // 16 mega-docs
  type In = Vector[Doc]
  def generate(seed: Long): In = Gen.flagshipDocs(seed, Docs)
  def setup(spark: SparkSession, docs: In, dir: String): Sizes = {
    writeCorpus(spark, docs, s"$dir/input", preSplit = true, files = 8)
    sizesOf(docs)
  }
  def pass(spark: SparkSession, dir: String): Map[String, Double] = {
    noop(Extract.run(spark.read.parquet(s"$dir/input")))
    Map.empty
  }
  private def checked(seed: Long): Seq[Doc] =
    (sampleIdx(seed, Docs, 60) ++ Gen.flagshipMegas(Docs)).distinct.map(Gen.flagshipDoc(seed, _))
  def check(spark: SparkSession, seed: Long, dir: String): Check = {
    val input = spark.read.parquet(s"$dir/input")
    val out = Extract.run(input).cache()
    try structural(input, out) + sequential(checked(seed), out)
    finally out.unpersist()
  }
  def sample(seed: Long): Seq[KSpan] = kspans(sampleIdx(seed, Docs, 600).map(Gen.flagshipDoc(seed, _)))
  override def traced(spark: SparkSession, seed: Long, dir: String): (Map[String, Double], Check) = {
    val m = Resume.cycle(spark, s"$dir/input", s"$dir/resume")
    (m, Resume.check(spark, s"$dir/input", s"$dir/resume", checked(seed)))
  }
}

/** A few mega-docs of 10^4-10^5 spans beside many small docs, in the
  * single-row layout: the salted spread path, the Exchange and the
  * two-phase stitch. Mostly pass-through spans, so the kernels do little. */
object MegadocSkew extends Workload {
  val name = "megadoc_skew"
  val Small = 3000
  def docs(seed: Long): Vector[Doc] = Gen.megadocDocs(seed, Small)
  type In = Vector[Doc]
  def generate(seed: Long): In = docs(seed)
  def setup(spark: SparkSession, d: In, dir: String): Sizes = {
    writeCorpus(spark, d, s"$dir/input", preSplit = false, files = 8)
    sizesOf(d)
  }
  def pass(spark: SparkSession, dir: String): Map[String, Double] = {
    noop(Extract.run(spark.read.parquet(s"$dir/input")))
    Map.empty
  }
  def check(spark: SparkSession, seed: Long, dir: String): Check = {
    val input = spark.read.parquet(s"$dir/input")
    val out = Extract.run(input).cache()
    val d = docs(seed)
    val pick = sampleIdx(seed, d.size, 60).toSet
    val expected = d.zipWithIndex.collect { case (doc, i) if pick(i) || doc.spans.size > Extract.DefaultSpreadThreshold => doc }
    try structural(input, out) + sequential(expected, out)
    finally out.unpersist()
  }
  def sample(seed: Long): Seq[KSpan] = {
    val d = docs(seed)
    kspans(d.filter(_.spans.size <= 7)).take(4000) ++
      kspans(d.filter(_.spans.size > 7)).filter(_.kind == "media").take(600)
  }
}

/** The `graft.resume` layer, measured in the flagship's traced run: the
  * flagship input staged by bucket, a run killed after half its waves,
  * then a resumed run, with real parquet, dynamic partition overwrite and
  * lineage read back. */
object Resume {
  val Buckets = 8
  val WaveSize = 4
  val FailAfter = 1

  /** One stage / kill / resume cycle under `dir`; per-layer metrics. */
  def cycle(spark: SparkSession, input: String, dir: String): Map[String, Double] = {
    val stage = s"$dir/stage"
    val out = s"$dir/out"
    val t0 = System.nanoTime()
    ResumableExtract.stageByBucket(spark, spark.read.parquet(input), stage, Buckets)
    val t1 = System.nanoTime()
    val killed =
      try { ResumableExtract.runStaged(spark, stage, out, Buckets, WaveSize, "a1", FailAfter); false }
      catch { case e: RuntimeException if e.getMessage.startsWith("injected failure") => true }
    if (!killed) throw new IllegalStateException("the first attempt was not killed")
    val t2 = System.nanoTime()
    val skipped = ResumableExtract.completedBuckets(spark, out).size
    ResumableExtract.runStaged(spark, stage, out, Buckets, WaveSize, "a2")
    val t3 = System.nanoTime()
    val waveMs = spark.read.parquet(ResumableExtract.lineageDir(out))
      .groupBy("wave", "attempt").agg(max("wave_wall_ms")).collect().map(_.getLong(2)).sum
    Map(
      "resume.stage_s" -> (t1 - t0) / 1e9,
      "resume.wave_s" -> waveMs / 1e3,
      "resume.lineage_s" -> ((t3 - t1) / 1e9 - waveMs / 1e3),
      "resume.resumed_s" -> (t3 - t2) / 1e9,
      "resume.skipped_buckets" -> skipped.toDouble,
      "resume.out_mb" -> dirBytes(Paths.get(ResumableExtract.dataDir(out))) / 1e6)
  }

  /** Each bucket in the lineage exactly once, and the resumed output
    * checked like the flagship's. */
  def check(spark: SparkSession, input: String, dir: String, expected: Seq[Doc]): Check = {
    val out = s"$dir/out"
    val lineage = spark.read.parquet(ResumableExtract.lineageDir(out))
      .groupBy("bucket").count().collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
    val badBuckets = (0 until Buckets).count(b => !lineage.get(b).contains(1L)) +
      lineage.keys.count(b => b < 0 || b >= Buckets)
    val lin = Check(Buckets.toLong, badBuckets.toLong,
      if (badBuckets > 0) Vector(s"$badBuckets buckets not in the lineage exactly once") else Vector.empty)
    val data = spark.read.parquet(ResumableExtract.dataDir(out)).select("doc_id", "span_seq").cache()
    try lin + structural(spark.read.parquet(input), data) + sequential(expected, data)
    finally data.unpersist()
  }
}

/** The LSH / near-dup query family through `SparkEntry.queries`, each
  * query followed by `QCache.releaseScoped()`, on a fresh session per
  * pass so the per-session memos start cold as in a fresh battery. */
object Dedup extends Workload {
  val name = "dedup"
  val Docs = 2000
  val Queries = Seq("q_minhash_lsh", "q_minhash_calibration", "q_dedup_cluster", "q_neardup_verified")
  /** Rows-only (no DuckDB oracle): checked against a sequential fold. */
  val Curate = "q_extract_curate"
  // One pass is one fresh session running the family once, as the
  // battery does: the first consumer of each memo pays for it, and the
  // JIT is as cold as in a newly started JVM.
  override def warmPasses: Int = 0
  override def warmSeconds: Double = 0.0
  override def minPasses: Int = 1
  override def maxPasses: Int = 1

  /** The documents and the number of files they are split into. */
  type In = (Vector[Gen.DocRow], Int)
  def generate(seed: Long): In = (Gen.documents(seed, Docs), 2 + new Gen.Rng(seed ^ 0xF11E5L).int(5))
  def setup(spark: SparkSession, in: In, dir: String): Sizes = {
    import spark.implicits._
    val (rows, files) = in
    // parallelize keeps the seeded row order inside each of `files` slices;
    // -Dgraftbench.documents=<parquet> runs the family on that table instead
    // of the generated one, to compare the two
    val table = sys.props.get("graftbench.documents") match {
      case Some(p) => spark.read.parquet(p).repartition(files)
      case None => spark.createDataset(spark.sparkContext.parallelize(rows, files)).toDF()
    }
    table.write.mode("overwrite").parquet(s"$dir/docs/documents.parquet")
    // q_extract_curate's input: the pre-split corpus of these documents,
    // the layout its SparkEntry entry reads, written under this run's dir
    val corpus = CorpusGen.fromDocuments(spark, s"$dir/docs")
    CorpusGen.preSplit(corpus).repartition(4).write.mode("overwrite").parquet(s"$dir/curate_corpus")
    val spans = spark.read.parquet(s"$dir/curate_corpus").agg(sum(size(col("spans")))).first().getLong(0)
    Sizes(spark.read.parquet(s"$dir/docs/documents.parquet").count(), spans)
  }

  override def beforePass(dir: String): Unit = rmrf(Paths.get(s"$dir/out"))

  override def afterPass(spark: SparkSession): Unit = {
    spark.catalog.clearCache()
    // the drop is asynchronous; wait until the cached blocks have stopped
    // changing for half a second, so the live heap after the pass is
    // settled (the session memos stay cached by design)
    val until = System.nanoTime() + 5000000000L
    var last = Set.empty[(Int, Int)]
    var since = System.nanoTime()
    while (System.nanoTime() < until && System.nanoTime() - since < 500000000L) {
      val now = spark.sparkContext.getRDDStorageInfo.map(i => (i.id, i.numCachedPartitions)).toSet
      if (now != last) { last = now; since = System.nanoTime() }
      Thread.sleep(20)
    }
  }

  def pass(spark: SparkSession, dir: String): Map[String, Double] = {
    val s = spark.newSession()
    val qs = graft.SparkEntry.queries
    def run(q: String)(df: => DataFrame): (String, Double, Double) = {
      val t0 = System.nanoTime()
      try df.write.mode("overwrite").parquet(s"$dir/out/$q")
      finally QCache.releaseScoped()
      val t = (System.nanoTime() - t0) / 1e9
      val cached = spark.sparkContext.getRDDStorageInfo.map(i => i.memSize + i.diskSize).sum / 1e6
      (q, t, cached)
    }
    val res = Queries.map(q => run(q)(qs(q)(s, s"$dir/docs"))) :+
      run(Curate)(Extract.extractCurate(s.read.parquet(s"$dir/curate_corpus")))
    res.map { case (q, t, _) => s"query.${q}_s" -> t }.toMap +
      ("queries.cached_mb" -> res.map(_._3).max)
  }

  /** q_extract_curate against a sequential fold: each doc's spans
    * extracted in order and joined by spaces, then the same fingerprint,
    * token count and reason rules. The oracle queries are compared with
    * DuckDB by the launcher, from the parquet written here. */
  def check(spark: SparkSession, seed: Long, dir: String): Check = {
    Files.writeString(Paths.get(s"$dir/oracle_sql.json"), org.json4s.jackson.Serialization.write(
      Queries.map(q => q -> graft.SparkEntry.oracleSql(q)).toMap)(org.json4s.DefaultFormats))
    val docs = spark.read.parquet(s"$dir/docs/documents.parquet").collect()
      .map(r => CorpusGen.genDoc(r.getAs[Long]("doc_id"), r.getAs[String]("text")))
    val text = Gen.parallel(docs.length, 4) { i =>
      docs(i).doc_id -> docs(i).spans.map(s => SpanExtract.extractSpanText(s.kind, s.text, s.media_ref)).mkString(" ")
    }.toMap
    // Spark's semantics: lower() is locale-free, trim() strips spaces only,
    // split() keeps trailing empty strings
    def norm(t: String) = t.replaceAll("\\s+", " ").toLowerCase(java.util.Locale.ROOT)
    def trimSpaces(t: String) = t.dropWhile(_ == ' ').reverse.dropWhile(_ == ' ').reverse
    val rep = text.groupBy { case (_, t) => norm(t) }.values.flatMap { g =>
      val m = g.keys.min
      g.keys.map(_ -> m)
    }.toMap
    val md5 = java.security.MessageDigest.getInstance("MD5")
    val got = spark.read.parquet(s"$dir/out/$Curate").collect()
    val bad = got.count { r =>
      val id = r.getAs[String]("doc_id")
      text.get(id).forall { t =>
        val fp = md5.digest(norm(t).getBytes("UTF-8")).map(b => f"$b%02x").mkString
        val tokens = if (trimSpaces(t).isEmpty) 0L else trimSpaces(t).split("\\s+", -1).length.toLong
        val reason = if (rep(id) != id) "dup_extracted" else if (tokens < 20) "too_short" else "kept"
        r.getAs[String]("fp") != fp || r.getAs[Long]("n_tokens") != tokens || r.getAs[String]("reason") != reason
      }
    } + math.abs(docs.length - got.length)
    Check(docs.length.toLong, bad.toLong,
      if (bad > 0) Vector(s"$Curate differs from the sequential fold on $bad docs") else Vector.empty)
  }

  def sample(seed: Long): Seq[KSpan] =
    kspans(Gen.documents(seed, Docs).take(300).map(r => CorpusGen.genDoc(r.doc_id, r.text)))
}
