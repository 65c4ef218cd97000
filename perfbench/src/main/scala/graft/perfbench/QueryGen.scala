package graft.perfbench

import graft.corpus.CorpusSynthesizer.Vocabulary

/** One generated query: its class, the Indri query string, and the
  * flat (term, weight) bag the unpruned reference kernel takes. Weights
  * are the ones the engine's kernels use: a baseline `#combine` weighs
  * each term 1, `#weight` uses its raw weights, and an LM `#combine`
  * weighs each of its k terms 1/k. The bag is empty for sdm queries,
  * whose unpruned reference is the structured kernel.
  */
final case class Query(cls: String, text: String, bag: Seq[(String, Double)])

/** Seeded query generator. Terms are drawn by rank from the corpus
  * vocabulary, whose Zipf sampling makes rank set document frequency:
  * keywords (ranks 0-38) occur in 24-99% of documents, identifier ranks
  * 39-400 in 3-24%, and ranks 2000-5038 in 0.2-0.6%.
  */
object QueryGen {

  val Classes: Seq[String] = Seq("hot", "mixed", "low", "weighted", "sdm", "lm")
  val FlatClasses: Seq[String] = Seq("hot", "mixed", "low", "weighted")

  private val Keyword = (0, 38)
  private val MidId = (39, 400)
  private val LowId = (2000, Vocabulary.length - 1)

  private def draw(rng: scala.util.Random, range: (Int, Int)): String =
    Vocabulary(range._1 + rng.nextInt(range._2 - range._1 + 1))

  private def distinct(rng: scala.util.Random, range: (Int, Int), n: Int): Seq[String] = {
    val out = scala.collection.mutable.LinkedHashSet.empty[String]
    while (out.size < n) out += draw(rng, range)
    out.toSeq
  }

  private def combine(cls: String, terms: Seq[String]): Query =
    Query(cls, terms.mkString("#combine(", " ", ")"), terms.map(_ -> 1.0))

  def generate(rng: scala.util.Random, cls: String): Query = cls match {
    case "hot" => combine(cls, distinct(rng, Keyword, 2 + rng.nextInt(3)))
    case "mixed" =>
      combine(cls, Seq(draw(rng, Keyword), draw(rng, MidId), draw(rng, LowId)).distinct)
    case "low" => combine(cls, distinct(rng, LowId, 2 + rng.nextInt(2)))
    case "weighted" =>
      val terms = Seq(draw(rng, Keyword), draw(rng, MidId), draw(rng, LowId)).distinct
      val ws = terms.map(_ => Seq(0.5, 1.0, 2.0, 3.0)(rng.nextInt(4)))
      Query(cls, terms.zip(ws).map { case (t, w) => s"$w $t" }.mkString("#weight(", " ", ")"),
        terms.zip(ws))
    case "sdm" =>
      val Seq(a, b) = distinct(rng, Keyword, 2)
      Query(cls, s"#combine($a $b #od1($a $b) #uw8($a $b))", Nil)
    case "lm" =>
      val terms = (distinct(rng, Keyword, 1) ++ distinct(rng, MidId, 1 + rng.nextInt(2))).distinct
      Query(cls, terms.mkString("#combine(", " ", ")"), terms.map(_ -> 1.0 / terms.size))
  }

  /** `perClass(c)` distinct queries of every class c, from one seed. */
  def pool(seed: Long, perClass: String => Int): Map[String, Seq[Query]] = {
    val rng = new scala.util.Random(seed)
    Classes.map { c =>
      val qs = scala.collection.mutable.LinkedHashMap.empty[String, Query]
      while (qs.size < perClass(c)) { val q = generate(rng, c); qs(q.text) = q }
      c -> qs.values.toSeq
    }.toMap
  }
}
