package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

import graft.fixtures.CorpusGen
import graft.model.{Doc, Span}
import graft.pipeline.{Extract, SpanExtract}

class ExtractSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  private def canon(df: org.apache.spark.sql.DataFrame): Seq[String] = {
    import org.apache.spark.sql.functions._
    df.select(col("doc_id"), to_json(col("span_seq")).as("j"))
      .collect().map(r => r.getString(0) + "" + r.getString(1)).sorted.toSeq
  }

  test("distributed == sequential: pipeline output matches per-doc library result") {
    import spark.implicits._
    val docs = (0L until 40L).map { id =>
      CorpusGen.genDoc(id, s"some words for doc $id repeated " * 8)
    }
    val input = spark.createDataset(docs).toDF()
    val got = Extract.run(input, spreadThreshold = 4) // force both paths
      .as[(String, Seq[(String, String, String, Int)])]
      .collect().toMap
    docs.foreach { d =>
      val expected = d.spans.zipWithIndex.map { case (s, i) =>
        (s.kind, SpanExtract.extractSpanText(s.kind, s.text, s.media_ref), s.media_ref, i)
      }
      assert(got(d.doc_id) == expected, s"doc ${d.doc_id}")
    }
  }

  test("spread path == narrow path (threshold extremes give identical output)") {
    val input = CorpusGen.fromDocuments(spark, "/root/testdata/sf0.001")
    val allNarrow = canon(Extract.run(input, spreadThreshold = Int.MaxValue))
    val allSpread = canon(Extract.run(input, spreadThreshold = 0))
    assert(allNarrow == allSpread)
    assert(allNarrow.nonEmpty)
  }

  test("pre-split storage layout == single-row layout (incl. multi-part mega doc)") {
    import spark.implicits._
    // sf0.001 corpus (mixed small + >256-span mega docs) plus one doc
    // large enough to span multiple PartSize=1024 chunks
    val base = CorpusGen.fromDocuments(spark, "/root/testdata/sf0.001")
    val multiPart = spark.createDataset(Seq(
      Doc("mp", (0 until 2600).map(i => Span("media", "", f"img://mp/$i%d", i * 10)).toVector)
    )).toDF()
    val input = base.unionAll(multiPart)
    val pre = CorpusGen.preSplit(input)
    // sanity: the 2600-span doc really is chunked
    assert(pre.filter("doc_id = 'mp'").count() == 3)
    assert(Extract.run(pre).schema == Extract.run(input).schema)
    assert(canon(Extract.run(pre)) == canon(Extract.run(input)))
    // and through the mega path for everything
    assert(canon(Extract.run(pre, spreadThreshold = 0)) ==
      canon(Extract.run(input, spreadThreshold = 0)))
  }

  test("plan shape: 3 hash exchanges on both layouts, every UDF gated on ExtractedKinds") {
    val input = CorpusGen.fromDocuments(spark, "/root/testdata/sf0.001")
    Seq("single-row" -> input, "pre-split" -> CorpusGen.preSplit(input)).foreach { case (layout, df) =>
      // spreadThreshold = 0 routes every doc through the mega-doc path
      val plan = Extract.run(df, spreadThreshold = 0).queryExecution.executedPlan.toString
      val exchanges = "(?m)^.*Exchange hashpartitioning".r.findAllIn(plan).length
      assert(exchanges == 3, s"$layout: $exchanges hash exchanges in\n$plan")
      // pass-through short-circuit: the extraction UDF appears only
      // inside the CASE branch gated on the extracted kinds
      val udfLines = plan.linesIterator.filter(_.contains("UDF(")).toVector
      // with zero UDF sites the gating check below would pass vacuously
      assert(udfLines.nonEmpty, s"$layout: no UDF site in\n$plan")
      udfLines.foreach { l =>
        assert(l.contains("CASE WHEN") && Extract.ExtractedKinds.forall(l.contains),
          s"$layout: ungated UDF site: $l")
      }
    }
  }

  test("driver contract: SparkEntry.entry returns span sequences at sf0.001") {
    val out = SparkEntry.entry(spark)
    assert(out.schema.simpleString ==
      "struct<doc_id:string,span_seq:array<struct<kind:string,text:string,media_ref:string,order:int>>>")
    assert(out.count() > 0)
  }

  test("hostile spans: malformed html/hOCR, empty docs, weird kinds survive") {
    import spark.implicits._
    val hostile = Seq(
      Doc("h1", Seq(
        Span("html", "<div><<<<not html & &bogus; <a href=", "", 0),
        Span("pdf_layout", "this is not hOCR at all", "", 10),
        Span("pdf_layout", "<div class='ocr_page'", "", 20),
        Span("media", "", "img://", 30),
        Span("unknown_kind", "passthrough", "", 40),
        Span("html", "", "", 50))),
      Doc("h2", Seq.empty),
      Doc("h3", Seq(Span("html", "<p>" + ("x" * 100000) + "</p>", "", 0))))
    val out = Extract.run(spark.createDataset(hostile).toDF())
      .as[(String, Seq[(String, String, String, Int)])]
      .collect().toMap
    assert(out("h1").length == 6)
    assert(out("h1").map(_._4) == (0 until 6))
    // unparseable hOCR (no ocr_page) -> "" (reference: errors swallowed)
    assert(out("h1")(1)._2 == "")
    assert(out("h1")(4)._2 == "passthrough") // unknown kinds pass through
    // empty-spans doc: groupBy drops it (no spans -> no row) — documented
    assert(!out.contains("h2"))
    assert(out("h3").head._2.length == 100000)
  }

  test("media classification is deterministic and ref-dependent") {
    val a = SpanExtract.extractSpanText("media", "", "img://abc")
    val b = SpanExtract.extractSpanText("media", "", "img://abc")
    val c = SpanExtract.extractSpanText("media", "", "img://abd")
    assert(a == b)
    assert(a != c)
    assert(a.nonEmpty)
  }
}
