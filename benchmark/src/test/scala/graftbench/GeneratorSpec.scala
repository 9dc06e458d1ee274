package graftbench

import org.scalatest.funsuite.AnyFunSuite

class GeneratorSpec extends AnyFunSuite {

  test("cohorts are the same for a seed and differ across seeds") {
    for (shape <- CohortGen.Shapes) {
      val a = CohortGen.generate(shape, 7L)
      assert(a == CohortGen.generate(shape, 7L))
      assert(a.recs != CohortGen.generate(shape, 8L).recs)
      assert(a.truth.nonEmpty && a.cells > 0)
    }
  }

  test("cohort block lengths straddle the 64-wide coverage bucket, sites carry 1-3 alts") {
    for (shape <- CohortGen.Shapes) {
      val c = CohortGen.generate(shape, 3L)
      val lens = c.recs.filter(_.kind == "block").map(r => r.end - r.start + 1)
      assert(lens.exists(_ < 64) && lens.exists(_ > 64))
      assert(c.recs.filter(_.kind == "site").map(_.alleles.size - 1).toSet == Set(1, 2, 3))
      assert(c.recs.map(_.sample).distinct.size == shape.samples)
    }
  }

  test("the store op stream is the same for a seed and differs across seeds") {
    val a = StoreStream.generate(11L)
    assert(a == StoreStream.generate(11L))
    assert(a != StoreStream.generate(12L))
    val writes = a.collect { case w: StoreStream.Write => w }
    assert(writes.head.rows.size == StoreStream.Keys * StoreStream.Samples.size)
    assert(writes.exists(_.rows.exists(_._4 == graft.sources.VariantStore.Tombstone)))
  }

  test("the corpus is the same for a seed, differs across seeds, and plants its copies") {
    val a = CorpusGen.generate(5L)
    assert(a == CorpusGen.generate(5L))
    assert(a.docs != CorpusGen.generate(6L).docs)
    assert(a.docs.size == CorpusGen.Docs)
    // every copy is its original's text with zero (exact) or more
    // appended marker tokens (near; a copy of a near copy carries two)
    val copies = a.docs.filter(d => d.root != d.id)
    assert(copies.size == math.round(CorpusGen.Docs * CorpusGen.ExactShare) +
      math.round(CorpusGen.Docs * CorpusGen.NearShare))
    copies.foreach { d =>
      val base = a.byId(d.root).text
      assert(d.text.startsWith(base))
      assert(d.text.drop(base.length).split(" ").forall(t => t.isEmpty || t == CorpusGen.NearMark))
      assert(CorpusGen.jaccard(base, d.text) > 0.5)
    }
    assert(copies.exists(d => d.text == a.byId(d.root).text))
    val lens = a.docs.map(_.text.split(" ").length)
    assert(lens.min >= CorpusGen.TokensLo && lens.max <= CorpusGen.TokensHi + 3)
  }
}
