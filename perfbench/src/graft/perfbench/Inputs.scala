package graft.perfbench

import scala.util.Random

/** Seeded curation corpus with planted duplicates. The base documents have
  * the shape of the catalog's `documents` table (doc_id, text, lang,
  * source, n_chars): whitespace-separated words from a small vocabulary,
  * 10–100 tokens, every tenth document long (150–250 tokens). On top of
  * them the generator plants
  *  - exact copies of ordinary documents (same text, a new, higher id),
  *  - near-duplicates of long documents: the source text plus one appended
  *    word. That adds one 3-word shingle to a set of 148+, so the pair's
  *    Jaccard is at least 148/149 ≈ 0.993 — far above the 0.8 verify
  *    threshold, and each of the 4 LSH bands misses it with probability
  *    ≈ 0.013, all four ≈ 3e-8,
  *  - short documents (2–4 tokens) that the quality gate must drop.
  * Planted ids are all higher than every base id, so the source is the
  * keeper of its exact group and the minimum of its near-dup cluster. */
object CurateInput {

  final case class Doc(doc_id: Long, text: String, lang: String, source: String, n_chars: Long)

  /** What a correct curation must do with the planted documents. */
  final case class Planted(
      base: Vector[Long],
      exact: Vector[(Long, Long)], // (source, copy)
      near: Vector[(Long, Long)],  // (source, near-duplicate)
      short: Vector[Long])

  private val Vocab: IndexedSeq[String] = IndexedSeq(
    "a", "agg", "batch", "big", "column", "customer", "data", "fast", "filter",
    "group", "hash", "join", "key", "line", "merge", "order", "part", "query",
    "row", "scan", "slow", "small", "sort", "spark", "stream", "table", "the",
    "value", "vector", "window", "block", "page", "span", "media", "index",
    "shard", "token", "split", "bucket", "frame")

  private val Langs = IndexedSeq("en", "zh", "de", "fr")

  /** Base documents plus every planted one. */
  def totalDocs(nBase: Int): Long = nBase.toLong + nBase / 20 + nBase / 20 + nBase / 100

  def generate(nBase: Int, seed: Long): (Vector[Doc], Planted) = {
    val rng = new Random(seed)
    def words(n: Int): String = Seq.fill(n)(Vocab(rng.nextInt(Vocab.length))).mkString(" ")
    def isLong(i: Int) = i % 10 == 9
    val baseTexts = Vector.tabulate(nBase) { i =>
      words(if (isLong(i)) 150 + rng.nextInt(101) else 10 + rng.nextInt(91))
    }
    val nExact = nBase / 20
    val nNear  = nBase / 20
    val nShort = nBase / 100
    val exactSrc = rng.shuffle((0 until nBase).filterNot(isLong).toVector).take(nExact)
    val nearSrc  = rng.shuffle((0 until nBase).filter(isLong).toVector).take(nNear)

    var nextId = nBase.toLong
    def fresh(): Long = { val id = nextId; nextId += 1; id }
    val exact = exactSrc.map(s => (s.toLong, fresh(), baseTexts(s)))
    val near  = nearSrc.map(s => (s.toLong, fresh(), baseTexts(s) + " " + Vocab(rng.nextInt(Vocab.length))))
    val short = Vector.fill(nShort)((fresh(), words(2 + rng.nextInt(3))))

    def doc(id: Long, text: String) =
      Doc(id, text, Langs((id % Langs.length).toInt), s"src${id % 8}", text.length.toLong)
    val docs = baseTexts.zipWithIndex.map { case (t, i) => doc(i.toLong, t) } ++
      exact.map { case (_, id, t) => doc(id, t) } ++
      near.map { case (_, id, t) => doc(id, t) } ++
      short.map { case (id, t) => doc(id, t) }
    (docs, Planted((0L until nBase.toLong).toVector,
      exact.map(e => (e._1, e._2)), near.map(n => (n._1, n._2)), short.map(_._1)))
  }
}
