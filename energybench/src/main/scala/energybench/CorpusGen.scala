package energybench

import java.util.SplittableRandom

/** Seeded document corpus with planted duplicates: vocabulary-sampled
  * texts that pass the Gopher quality rules, low-quality "junk" texts that
  * fail them, exact copies and near-copies (a few words substituted) of
  * earlier originals. Copies always get a higher doc_id than their
  * original, so the keeper of every duplicate group is an original.
  *
  * The engine picks its dedup plan from the corpus's text multiplicity:
  * the id-grain arm when at least 97% of the texts are distinct and no
  * text has more than 8 copies, the content-grain arm otherwise. The two
  * mixes below fall on opposite sides of that rule, and `generate`
  * enforces it, so a run always times both arms.
  */
object CorpusGen {

  sealed trait Kind
  case object Original extends Kind
  case object Junk extends Kind
  final case class Exact(of: Long) extends Kind
  final case class Near(of: Long) extends Kind

  final case class Doc(id: Long, text: String, kind: Kind) {
    def planted: Boolean = kind match {
      case _: Exact | _: Near => true
      case _ => false
    }
  }

  /** Shares of exact copies, near copies and junk documents; `popular`
    * originals draw half of all copies (0: copies draw uniformly), and
    * no original gets more than `maxExact` exact copies.
    */
  final case class Mix(name: String, exact: Double, near: Double, junk: Double,
      popular: Int, maxExact: Int, idGrain: Boolean)

  /** Re-crawl-like: copies concentrate on a small popular set, so some
    * texts have a dozen or more copies (content grain).
    */
  val DupHeavy: Mix = Mix("dup_heavy", exact = 0.07, near = 0.08, junk = 0.03,
    popular = 40, maxExact = Int.MaxValue, idGrain = false)
  /** First-crawl-like: few exact copies, spread thin (id grain). */
  val LowMultiplicity: Mix = Mix("low_mult", exact = 0.015, near = 0.08, junk = 0.03,
    popular = 0, maxExact = 3, idGrain = true)

  /** Share of distinct texts and the largest number of docs sharing one. */
  def multiplicity(docs: Seq[Doc]): (Double, Int) = {
    val counts = docs.groupBy(_.text).values.map(_.length)
    (counts.size.toDouble / docs.length, counts.max)
  }

  val Stopwords: IndexedSeq[String] = IndexedSeq("the", "and", "that", "with")
  private val Symbols = IndexedSeq("#{}", "<|>", "##", "{|}", "12345", "0.99", "<<>>")

  def generate(seed: Long, n: Int, mix: Mix): IndexedSeq[Doc] = {
    val r = new SplittableRandom(seed * 2654435761L + 5L)
    val vocab = (0 until 5000).map { _ =>
      val len = r.nextInt(3, 10)
      new String(Array.fill(len)(('a' + r.nextInt(26)).toChar))
    }
    val docs = collection.mutable.ArrayBuffer[Doc]()
    val originals = collection.mutable.ArrayBuffer[Doc]()
    val exactOf = collection.mutable.Map[Long, Int]().withDefaultValue(0)
    def text(words: Seq[String]) = words.mkString(" ") + "."
    for (id <- 0L until n) {
      val u = r.nextDouble()
      // with a popular set, it gets half the copies: duplicate groups of
      // varied size, from pairs to a dozen members
      def source() =
        if (mix.popular > 0 && r.nextDouble() < 0.5)
          originals(r.nextInt(math.min(originals.length, mix.popular)))
        else originals(r.nextInt(originals.length))
      lazy val exactSource = Some(source()).filter(o => exactOf(o.id) < mix.maxExact)
      val doc =
        if (originals.nonEmpty && u < mix.exact && exactSource.nonEmpty) {
          val o = exactSource.get
          exactOf(o.id) += 1
          Doc(id, o.text, Exact(o.id))
        } else if (originals.nonEmpty && u >= mix.exact && u < mix.exact + mix.near) {
          val o = source()
          val words = o.text.dropRight(1).split(" ")
          val changed = words.map(w =>
            if (r.nextDouble() < 0.04) vocab(r.nextInt(vocab.length)) else w)
          // at least one word differs, so a near copy is never an exact one
          val at = r.nextInt(words.length)
          if (changed.sameElements(words)) changed(at) = words(at) + "s"
          Doc(id, text(changed.toSeq), Near(o.id))
        } else if (u >= mix.exact + mix.near && u < mix.exact + mix.near + mix.junk) {
          Doc(id, Seq.fill(r.nextInt(20, 40))(Symbols(r.nextInt(Symbols.length))).mkString(" "), Junk)
        } else {
          val len = r.nextInt(60, 160)
          val words = (0 until len).map { i =>
            if (i % 25 == 5 || r.nextDouble() < 0.06) Stopwords(r.nextInt(4))
            else vocab(r.nextInt(vocab.length))
          }
          val d = Doc(id, text(words), Original)
          originals += d
          d
        }
      docs += doc
    }
    val (distinct, maxCopies) = multiplicity(docs.toSeq)
    require((distinct >= 0.97 && maxCopies <= 8) == mix.idGrain,
      s"${mix.name} corpus of seed $seed has distinct share $distinct and " +
        s"$maxCopies copies of one text: the wrong side of the dedup grain rule")
    docs.toIndexedSeq
  }

  def digest(docs: Seq[Doc]): String = {
    val md = java.security.MessageDigest.getInstance("SHA-256")
    docs.foreach(d => md.update(s"${d.id}|${d.kind}|${d.text}\n".getBytes("UTF-8")))
    md.digest().map(b => f"$b%02x").mkString
  }
}
