package graftbench

import org.scalatest.funsuite.AnyFunSuite

class GenSpec extends AnyFunSuite {

  test("flagship corpus is a function of the seed") {
    val a = Gen.flagshipDocs(7L, 300)
    assert(a == Gen.flagshipDocs(7L, 300))
    assert(a != Gen.flagshipDocs(8L, 300))
    assert(a(42) == Gen.flagshipDoc(7L, 42))
  }

  test("flagship corpus has one mega-doc in 251, at the advertised indices") {
    val docs = Gen.flagshipDocs(3L, 600)
    val megas = docs.indices.filter(i => docs(i).spans.size >= 256)
    assert(megas == Gen.flagshipMegas(600))
    assert(docs.forall(d => d.spans.size >= 2 && d.spans.size <= 511))
  }

  test("skew corpus is a function of the seed, with fixed mega-doc sizes") {
    val a = Gen.megadocDocs(5L, 200)
    assert(a == Gen.megadocDocs(5L, 200))
    val b = Gen.megadocDocs(6L, 200)
    assert(a != b)
    for (d <- Seq(a, b))
      assert(d.map(_.spans.size).filter(_ > 7).sorted == Gen.MegaSizes.sorted)
    assert(a.flatMap(_.spans).map(_.kind).toSet == Set("text", "media"))
  }

  test("documents table is a function of the seed and keeps every doc id once") {
    val a = Gen.documents(9L, 400)
    assert(a == Gen.documents(9L, 400))
    assert(a != Gen.documents(10L, 400))
    assert(a.map(_.doc_id).sorted == (0L until 400L))
    assert(a.forall(r => r.n_chars == r.text.length))
    assert(a.exists(_.text.endsWith(" dup")), "no planted near-duplicate")
  }

  test("documents table has the shape of the repository's sf0.1 table") {
    val a = Gen.documents(4L, 5000)
    val texts = a.map(_.text).toSet
    val dups = a.filter(_.text.endsWith(" dup"))
    assert(dups.size > 200 && dups.size < 300, s"${dups.size} near-duplicates")
    assert(dups.forall(d => texts(d.text.stripSuffix(" dup"))), "a near-duplicate without its original")
    assert(a.filterNot(_.text.endsWith(" dup")).forall(r => (10 to 100).contains(r.text.split(' ').length)))
    val en = a.count(_.lang == "en").toDouble / a.size
    assert(en > 0.38 && en < 0.44, s"en share $en")
    assert(a.map(_.lang).toSet == Set("en", "zh", "es", "fr", "de"))
    assert(a.forall(r => r.source == s"src${r.doc_id % 20}"))
  }
}
