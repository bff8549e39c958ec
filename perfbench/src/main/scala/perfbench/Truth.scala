package perfbench

import java.util.concurrent.{Executors, TimeUnit}

/** Exact k-nearest-neighbour answers computed by the benchmark itself,
  * in plain Scala, as the reference every engine answer is checked
  * against. Ranking is by (squared L2 distance, id), the order the
  * engine documents for its top-k.
  */
object Truth {

  /** Squared L2 distance accumulated in double precision over float
    * elements, element by element in index order: the engine's
    * `l2sq_dist` arithmetic, so equal inputs give equal doubles.
    */
  def l2sq(a: Array[Float], b: Array[Float]): Double = {
    require(a.length == b.length, s"dimension ${a.length} != ${b.length}")
    var acc = 0.0; var i = 0
    while (i < a.length) {
      val d = a(i).toDouble - b(i).toDouble
      acc += d * d; i += 1
    }
    acc
  }

  final case class Hit(id: Long, dist: Double)

  /** Top-k of one query over (ids, vecs), restricted to rows `keep`
    * accepts.
    */
  def topK(ids: Array[Long], vecs: Array[Array[Float]], q: Array[Float],
      k: Int, keep: Int => Boolean = _ => true): Array[Hit] = {
    // bounded max-heap on (dist, id)
    val ord = Ordering.by[Hit, (Double, Long)](h => (h.dist, h.id))
    val heap = new java.util.PriorityQueue[Hit](k + 1, ord.reverse)
    var i = 0
    while (i < ids.length) {
      if (keep(i)) {
        val d = l2sq(vecs(i), q)
        if (heap.size < k) heap.add(Hit(ids(i), d))
        else {
          val top = heap.peek()
          if (d < top.dist || (d == top.dist && ids(i) < top.id)) {
            heap.poll(); heap.add(Hit(ids(i), d))
          }
        }
      }
      i += 1
    }
    heap.toArray(new Array[Hit](0)).sorted(ord)
  }

  /** Top-k for many queries on at most `threads` threads. */
  def knn(ids: Array[Long], vecs: Array[Array[Float]],
      queries: IndexedSeq[Array[Float]], k: Int, threads: Int,
      keep: (Int, Int) => Boolean = (_, _) => true): Array[Array[Hit]] = {
    val out = new Array[Array[Hit]](queries.length)
    val pool = Executors.newFixedThreadPool(math.max(1, threads))
    try {
      val fs = queries.indices.map { qi =>
        pool.submit(new Runnable {
          def run(): Unit =
            out(qi) = topK(ids, vecs, queries(qi), k, i => keep(qi, i))
        })
      }
      fs.foreach(_.get())
    } finally {
      pool.shutdown(); pool.awaitTermination(1, TimeUnit.MINUTES)
    }
    out
  }
}
