package perfbench

/** Independent checks of engine outputs. Each returns the failure of one
  * operation as a message, or None; the workloads count one failed
  * operation per message.
  */
object Checks {

  /** One returned neighbour: query id, neighbour id, 1-based rank and
    * the distance the engine reported.
    */
  final case class Nn(qid: Long, nid: Long, rank: Int, dist: Double)

  private def sameDist(a: Double, b: Double): Boolean =
    math.abs(a - b) <= 1e-9 + 1e-9 * math.abs(b)

  /** A top-k answer for one query: exactly min(k, |truth|) rows ranked
    * 1..n in non-decreasing distance, every neighbour a known row, every
    * distance equal to the benchmark's own recomputation. With `exact`,
    * the ids must also equal the brute-force truth in order.
    *
    * @return the failure (if any) and how many true top-k ids the answer
    *   holds (the recall numerator)
    */
  def answer(rows: Seq[Nn], q: Array[Float], truth: Array[Truth.Hit],
      vecOf: Long => Option[Array[Float]], exact: Boolean = false)
      : (Option[String], Int) = {
    val rs = rows.sortBy(_.rank)
    val hits = rs.count(r => truth.exists(_.id == r.nid))
    val qid = rs.headOption.map(_.qid).getOrElse(-1L)
    val err =
      if (rs.length != truth.length)
        Some(s"query $qid: ${rs.length} neighbours, expected ${truth.length}")
      else if (rs.map(_.rank) != (1 to rs.length))
        Some(s"query $qid: ranks ${rs.map(_.rank).mkString(",")}")
      else if (rs.map(_.nid).distinct.length != rs.length)
        Some(s"query $qid: repeated neighbour")
      else if (rs.zip(rs.drop(1)).exists { case (a, b) => b.dist < a.dist })
        Some(s"query $qid: distances not sorted")
      else rs.iterator.map { r =>
        vecOf(r.nid) match {
          case None => Some(s"query $qid: unknown neighbour ${r.nid}")
          case Some(v) =>
            val d = Truth.l2sq(v, q)
            if (sameDist(r.dist, d)) None
            else Some(s"query $qid: neighbour ${r.nid} distance " +
              s"${r.dist} != recomputed $d")
        }
      }.collectFirst { case Some(e) => e }.orElse {
        if (exact && rs.map(_.nid) != truth.map(_.id).toSeq)
          Some(s"query $qid: full-probe answer differs from brute force")
        else None
      }
    (err, hits)
  }

  /** Word n-gram shingles, the unit the engine's near-duplicate Jaccard
    * is defined over.
    */
  def shingles(text: String, n: Int = 3): Set[String] = {
    val w = text.split(" ").filter(_.nonEmpty)
    if (w.length < n) Set(w.mkString(" "))
    else w.sliding(n).map(_.mkString(" ")).toSet
  }

  def jaccard(a: Set[String], b: Set[String]): Double =
    if (a.isEmpty && b.isEmpty) 1.0
    else (a intersect b).size.toDouble / (a union b).size

  /** Near-duplicate pairs: every planted pair must be reported, and every
    * reported pair must really reach `tau`.
    *
    * @return one message per missed planted pair or false pair
    */
  def dupPairs(reported: Set[(Long, Long)], planted: Set[(Long, Long)],
      textOf: Long => String, tau: Double): Seq[String] = {
    val missed = (planted -- reported).toSeq.sorted
      .map(p => s"planted pair $p not reported")
    val extra = (reported -- planted).toSeq.sorted.flatMap { case (a, b) =>
      val j = jaccard(shingles(textOf(a)), shingles(textOf(b)))
      if (j >= tau) None
      else Some(f"reported pair ($a,$b) has jaccard $j%.3f < $tau")
    }
    missed ++ extra
  }

  /** An index must hold every expected id exactly once. */
  def exactlyOnce(ids: Seq[Long], expected: Set[Long]): Seq[String] = {
    val counts = ids.groupBy(identity).map { case (i, xs) => i -> xs.size }
    val dup = counts.collect { case (i, c) if c > 1 => i }.toSeq.sorted
      .map(i => s"id $i held ${counts(i)} times")
    val missing = (expected -- counts.keySet).toSeq.sorted
      .map(i => s"id $i missing")
    val extra = (counts.keySet -- expected).toSeq.sorted
      .map(i => s"unexpected id $i")
    dup ++ missing ++ extra
  }

  private val item =
    """\{"id":(-?\d+),"rank":(\d+),"distance":([^,}]+)\}""".r

  /** Parse a /search response body into neighbours of query `qid`.
    * Left carries why the response is unusable.
    */
  def httpResults(code: Int, body: String, qid: Long)
      : Either[String, Seq[Nn]] =
    if (code != 200) Left(s"request $qid: HTTP $code: ${body.take(200)}")
    else if (!body.startsWith("{\"results\":["))
      Left(s"request $qid: unexpected body ${body.take(200)}")
    else scala.util.Try(item.findAllMatchIn(body).map { m =>
      Nn(qid, m.group(1).toLong, m.group(2).toInt, m.group(3).toDouble)
    }.toSeq).toEither.left.map(e => s"request $qid: ${e.getMessage}")
}
