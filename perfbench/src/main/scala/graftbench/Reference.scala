package graftbench

import scala.math.BigDecimal.RoundingMode

/** One stored point, collected from the store. */
final case class Point(id: Long, vec: Array[Float], text: String)

/** One ranked result row: id, dense score, rerank score. */
final case class Hit(id: Long, score: Double, rerank: Double)

/** Plain-Scala brute force of the read path, computed in this JVM over
  * the collected store: RLS, cosine, over-fetch, Jaccard rerank, top-k.
  * It shares no code with the engine; the checks compare its answers
  * with what the engine returned.
  */
final class Reference(points: Array[Point]) {
  private def round6(d: Double): Double =
    if (d.isNaN || d.isInfinite) d
    else BigDecimal(d).setScale(6, RoundingMode.HALF_UP).toDouble

  private def cosine(a: Array[Float], b: Array[Float]): Double = {
    var dot, na, nb = 0.0
    var i = 0
    while (i < a.length) {
      val x = a(i).toDouble; val y = b(i).toDouble
      dot += x * y; na += x * x; nb += y * y; i += 1
    }
    dot / (math.sqrt(na) * math.sqrt(nb))
  }

  private def ranked(a: Array[Float], b: Array[Float]): Double = {
    val c = round6(cosine(a, b)); if (c.isNaN) -2.0 else c
  }

  private def tokens(s: String): Set[String] =
    s.trim.toLowerCase(java.util.Locale.ROOT).split("\\s+").filter(_.nonEmpty).toSet

  private def jaccard(a: String, b: String): Double = {
    val ta = tokens(a); val tb = tokens(b)
    val union = (ta ++ tb).size
    if (union == 0) 0.0 else (ta intersect tb).size.toDouble / union
  }

  private val denseOrder: Ordering[(Point, Double)] =
    Ordering.by[(Point, Double), (Double, Long)] { case (p, s) => (-s, p.id) }

  private def topDense(cands: Iterator[Point], qv: Array[Float], n: Int): Vector[(Point, Double)] =
    cands.map(p => (p, ranked(p.vec, qv))).toVector.sorted(denseOrder).take(n)

  /** SearchService.search: RLS → top-(k·overFetch) → rerank → top-k. */
  def search(accessible: Option[Set[Long]], qv: Array[Float], qText: String, k: Int,
             overFetch: Int): Vector[Hit] = {
    val cands = points.iterator.filter(p => accessible.forall(_.contains(p.id)))
    topDense(cands, qv, k * overFetch)
      .map { case (p, s) => Hit(p.id, s, round6(jaccard(qText, p.text))) }
      .sortBy(h => (-h.rerank, -h.score, h.id))
      .take(k)
  }

  /** Equal when the ids match rank by rank, or when every differing rank
    * is a tie within the engine's 6-decimal score rounding.
    */
  def same(engine: Seq[Hit], ref: Seq[Hit]): Boolean =
    engine.size == ref.size && engine.zip(ref).forall { case (e, r) =>
      e.id == r.id || (math.abs(e.score - r.score) <= 2e-6 && math.abs(e.rerank - r.rerank) <= 2e-6)
    }
}
