package energybench

import org.scalatest.funsuite.AnyFunSuite

/** The benchmark's own logic: generators, order statistics, span
  * arithmetic and result checks. No Spark session is needed.
  */
class BenchSpec extends AnyFunSuite {

  private val small = EtlGen.Scale(uofs = 12, ups = 9)

  test("generators: same seed gives byte-identical inputs, another seed different ones") {
    assert(EtlGen.digest(EtlGen.generate(7, small)) == EtlGen.digest(EtlGen.generate(7, small)))
    assert(EtlGen.digest(EtlGen.generate(7, small)) != EtlGen.digest(EtlGen.generate(8, small)))
    val a = EtlGen.generate(7, small).flatMap(_.omie.map(_.bytes.toSeq))
    assert(a == EtlGen.generate(7, small).flatMap(_.omie.map(_.bytes.toSeq)))

    def corpus(seed: Long) = CorpusGen.digest(CorpusGen.generate(seed, 300, CorpusGen.DupHeavy))
    assert(corpus(7) == corpus(7))
    assert(corpus(7) != corpus(8))

    val scale = LakeModel.Scale(days = 40, uofs = 8, ups = 6, mirrors = 4)
    def lake(seed: Long) = {
      val m = new LakeModel(seed, scale)
      val revs = (0 until 6).map(m.revise)
      (m.omie.toSeq, m.i90.toSeq, m.precios.toSeq, revs)
    }
    assert(lake(7) == lake(7))
    assert(lake(7) != lake(8))
  }

  test("raw zone covers a 92-quarter and a 100-quarter Madrid day") {
    val ws = EtlGen.generate(3, small)
    assert(ws.flatMap(_.expected.dstQuarters.values).sorted == Seq(92, 100))
    val labels = ws.flatMap(_.days).map(Madrid.hourLabels(_).length).sorted
    assert(labels.head == 23 && labels.last == 25)
  }

  test("the two corpora fall on opposite sides of the engine's dedup grain rule") {
    for (seed <- 1L to 12L) {
      val (heavyShare, _) =
        CorpusGen.multiplicity(CorpusGen.generate(seed, CorpusDedup.DefaultSize, CorpusGen.DupHeavy))
      val (lowShare, lowCopies) = CorpusGen.multiplicity(
        CorpusGen.generate(seed, CorpusDedup.DefaultSize, CorpusGen.LowMultiplicity))
      assert(heavyShare < 0.97)
      assert(lowShare >= 0.97 && lowCopies <= 8)
    }
  }

  test("corpus plants exact and near copies, each after its original") {
    val docs = CorpusGen.generate(5, 2000, CorpusGen.DupHeavy)
    val byId = docs.map(d => d.id -> d).toMap
    val copies = docs.collect {
      case d @ CorpusGen.Doc(_, _, CorpusGen.Exact(of)) => (d, of)
      case d @ CorpusGen.Doc(_, _, CorpusGen.Near(of)) => (d, of)
    }
    assert(copies.exists(_._1.kind.isInstanceOf[CorpusGen.Exact]))
    assert(copies.exists(_._1.kind.isInstanceOf[CorpusGen.Near]))
    assert(copies.forall { case (d, of) => of < d.id && byId(of).kind == CorpusGen.Original })
    assert(copies.forall { case (d, of) =>
      d.kind.isInstanceOf[CorpusGen.Exact] == (d.text == byId(of).text) })
  }

  test("tail: the highest percentile with at least ten samples beyond it") {
    val xs = (1 to 100).map(_.toDouble).reverse
    val t = Stats.tail(xs).get
    assert(t.value == 90.0 && t.percentile == 90.0 && t.beyond == 10 && t.n == 100)
    assert(Stats.tail((1 to 10).map(_.toDouble)).isEmpty)
    val eleven = Stats.tail((1 to 11).map(_.toDouble)).get
    assert(eleven.value == 1.0 && eleven.percentile == 100.0 / 11)
    assert(Stats.median(Seq(3.0, 1.0, 2.0, 10.0)) == 2.5)
  }

  test("self time subtracts the union of child intervals") {
    def span(id: Int, parent: Int, a: Long, b: Long) = {
      val s = new Span(id, s"s$id", parent, "t", a * 1000000000L)
      s.end = b * 1000000000L
      s
    }
    // root 0..100 with overlapping children 10..40 and 30..60; the first
    // child has a grandchild 15..20 that must not count against the root
    val spans = Seq(span(0, -1, 0, 100), span(1, 0, 10, 40), span(2, 0, 30, 60),
      span(3, 1, 15, 20))
    val self = Trace.selfSeconds(spans)
    assert(self(0) == 50.0)
    assert(self(1) == 25.0)
    assert(self(2) == 30.0)
    assert(self(3) == 5.0)
  }

  test("backfill check passes on the model's own figures and fails on a wrong output") {
    val w = EtlGen.generate(11, small).head
    val exp = w.expected
    val right = exp.rows.map { case (k, n) => k -> (n, exp.sums(k)) }
    val dst = exp.dstQuarters.map { case (d, q) =>
      d -> EtlGen.Indicators.map(_._3 -> q.toLong).toMap }
    assert(EtlBackfill.compare(exp, right, dst).isEmpty)
    val key = right.keys.head
    val oneLost = right.updated(key, (right(key)._1 - 1, right(key)._2))
    assert(EtlBackfill.compare(exp, oneLost, dst).nonEmpty)
    val wrongSum = right.updated(key, (right(key)._1, right(key)._2 + 1.5))
    assert(EtlBackfill.compare(exp, wrongSum, dst).nonEmpty)
    val short = dst.map { case (d, m) => d -> m.updated(1, m(1) - 4) }
    assert(EtlBackfill.compare(exp, right, short).exists(_.contains("quarters")))
  }

  test("corpus checks fail when a planted copy survives or an original is lost") {
    val docs = CorpusGen.generate(5, 2000, CorpusGen.DupHeavy)
    val exact = docs.collect { case d @ CorpusGen.Doc(_, _, CorpusGen.Exact(_)) => d.id }
    val keptByDedup = docs.filterNot(_.planted).map(_.id).toSet
    assert(CorpusDedup.checkDedupApply(docs, keptByDedup).isEmpty)
    assert(CorpusDedup.recall(docs, keptByDedup) == 1.0)
    assert(CorpusDedup.checkDedupApply(docs, keptByDedup + exact.head).nonEmpty)
    assert(CorpusDedup.checkDedupApply(docs, keptByDedup - keptByDedup.head).nonEmpty)
    assert(CorpusDedup.recall(docs, keptByDedup ++ exact) < 1.0)
    val original = docs.find(d => d.kind == CorpusGen.Original && d.id % 50 != 0 &&
      !docs.exists(c => c.id % 50 == 0 && c.kind == CorpusGen.Exact(d.id))).get
    val pipeline = docs.filter(d => d.kind == CorpusGen.Original && d.id % 50 != 0 &&
      !docs.exists(c => c.id % 50 == 0 && (c.kind == CorpusGen.Exact(d.id) ||
        c.kind == CorpusGen.Near(d.id)))).map(_.id).toSet
    assert(CorpusDedup.checkPipeline(docs, pipeline).isEmpty)
    assert(CorpusDedup.checkPipeline(docs, pipeline - original.id).nonEmpty)
    assert(CorpusDedup.checkPipeline(docs, pipeline + exact.head).nonEmpty)
  }

  test("lake model: revisions replace values and linking finds the planted pairs") {
    val m = new LakeModel(3, LakeModel.Scale(days = 40, uofs = 10, ups = 8, mirrors = 5))
    val before = m.omie.clone()
    val rev = m.revise(0)
    assert(rev.dataset == LakeModel.Omie && rev.rows.nonEmpty)
    assert(rev.rows.forall { case (e, q, v) => m.omie(m.idx(e, rev.day, q)) == v })
    assert(!java.util.Arrays.equals(before, m.omie))
    // the revised day is published again in full: every unit present
    // before the revision re-sends all its quarters
    val present = (0 until 10).count(e => before(m.idx(e, rev.day, 0)) != LakeModel.Absent)
    assert(rev.superseded == present * m.quarters(rev.day))
    assert(rev.rows.length >= rev.superseded)
    // every mirrored pair present that day links, UNAME0/1 by name
    val d = 5
    val links = m.links(d)
    val mirrored = m.mirrors.filter { case (p, u) =>
      m.i90(m.idx(p, d, 0)) != LakeModel.Absent && m.omie(m.idx(u, d, 0)) != LakeModel.Absent }
    assert(mirrored.forall { case (p, u) => links((m.ups(p), m.uofs(u))) })
    assert(links.forall { case (up, uof) => !up.startsWith("UNAME") || up == uof })
  }
}
