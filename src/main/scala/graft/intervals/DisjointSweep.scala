package graft.intervals

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.catalyst.util.SQLOrderingUtil
import org.apache.spark.sql.types.{DataType, DoubleType, FloatType}

/** The one disjoint-merge kernel, the reference's per-series sweep fold
  * (intervals.py:263-271, 1300-1331). [[IntervalsDF.makeDisjoint]] folds
  * all of a series' intervals into an empty grid once;
  * [[graft.streaming.StreamingTSDF.disjointIntervals]] folds each
  * micro-batch into the series' state grid. Both emit [[coalesce]] of
  * the grid.
  *
  * A grid is a series' sorted, disjoint ELEMENTARY segments: every interval
  * folded so far covers all of a segment or none of it. Each segment keeps,
  * per metric, the winner among its covering intervals whose value is
  * non-null: the greatest (start, end, value), which is what
  * `max(struct(start, end, value))` gives. That max is associative and
  * commutative and the grid is elementary, so folding a second batch into
  * a grid equals folding both batches at once, in any arrival order.
  *
  * Values are Spark's external values of a numeric or boolean type,
  * boxed, with null for an absent value. Each metric has one [[order]],
  * Spark SQL's; two values are equal when it compares them 0, which is
  * Spark's `<=>` on non-null values. */
object DisjointSweep {

  /** One input interval `[s, e)` in micros; `vs(m)` null = metric m absent. */
  final case class Interval(s: Long, e: Long, vs: Array[Any])

  /** The (start, end, value) of the interval winning one metric on a segment. */
  final case class Win(ws: Long, we: Long, v: Any)

  /** One elementary segment `[s, e)`; `wins(m)` null = no covering interval
    * carries metric m. */
  final case class Seg(s: Long, e: Long, wins: Array[Win])

  /** Spark SQL's order on the external values of a metric type: for floats
    * `if (x == y) 0 else compare(x, y)`, so -0.0 equals 0.0 and NaN is the
    * greatest value and equals itself. */
  def order(dt: DataType): Ordering[Any] = dt match {
    case DoubleType => (x, y) =>
      SQLOrderingUtil.compareDoubles(x.asInstanceOf[Double], y.asInstanceOf[Double])
    case FloatType => (x, y) =>
      SQLOrderingUtil.compareFloats(x.asInstanceOf[Float], y.asInstanceOf[Float])
    case _ => (x, y) => x.asInstanceOf[Comparable[Any]].compareTo(y)
  }

  private def cmp(o: Ordering[Any], as: Long, ae: Long, av: Any,
      bs: Long, be: Long, bv: Any): Int = {
    val c = java.lang.Long.compare(as, bs)
    if (c != 0) c else {
      val d = java.lang.Long.compare(ae, be)
      if (d != 0) d else o.compare(av, bv)
    }
  }

  /** `grid` with `ivs` folded in. The new boundaries are the grid's plus
    * the endpoints of every non-empty interval; a segment is kept where an
    * old segment or a new interval covers it. Each metric's winner is the
    * greater of the old segment's and the top of that metric's max-heap of
    * started intervals (ended ones are dropped from the top lazily).
    * O(n log n) in the grid and batch size. */
  def fold(grid: IndexedSeq[Seg], ivs: Iterable[Interval],
      ords: IndexedSeq[Ordering[Any]]): IndexedSeq[Seg] = {
    val k = ords.length
    val live = ivs.iterator.filter(iv => iv.e > iv.s).toArray.sortBy(_.s)
    val bounds = (grid.iterator.flatMap(g => Iterator(g.s, g.e)) ++
      live.iterator.flatMap(iv => Iterator(iv.s, iv.e))).toArray
    java.util.Arrays.sort(bounds)
    val heaps = Array.tabulate(k) { m =>
      val o = ords(m)
      new java.util.PriorityQueue[Interval](
        (a: Interval, b: Interval) => cmp(o, b.s, b.e, b.vs(m), a.s, a.e, a.vs(m)))
    }
    val out = ArrayBuffer.empty[Seg]
    var ni = 0 // next interval to start
    var op = 0 // first old segment not ended
    var maxEnd = Long.MinValue // over the started intervals
    var bi = 0
    while (bi < bounds.length - 1) {
      val p = bounds(bi); val p2 = bounds(bi + 1)
      if (p2 > p) {
        while (ni < live.length && live(ni).s <= p) {
          val iv = live(ni)
          maxEnd = math.max(maxEnd, iv.e)
          var m = 0
          while (m < k) { if (iv.vs(m) != null) heaps(m).add(iv); m += 1 }
          ni += 1
        }
        while (op < grid.length && grid(op).e <= p) op += 1
        val og = if (op < grid.length && grid(op).s <= p) grid(op) else null
        // a started interval ending after p covers [p, p2): ends are boundaries
        if (og != null || maxEnd > p) {
          val wins = new Array[Win](k)
          var m = 0
          while (m < k) {
            val h = heaps(m)
            while (!h.isEmpty && h.peek().e <= p) h.poll()
            val old = if (og == null) null else og.wins(m)
            wins(m) = if (h.isEmpty) old else {
              val t = h.peek()
              if (old != null &&
                  cmp(ords(m), old.ws, old.we, old.v, t.s, t.e, t.vs(m)) >= 0) old
              else Win(t.s, t.e, t.vs(m))
            }
            m += 1
          }
          out += Seg(p, p2, wins)
        }
      }
      bi += 1
    }
    out.toIndexedSeq
  }

  /** The disjoint output of a grid: touching segments merge while their
    * whole value vector is null-safe equal (the issue-268 semantics, so a
    * split never fragments a region of uniform merged values). Each run is
    * (start, end, values), values null where absent. */
  def coalesce(grid: IndexedSeq[Seg],
      ords: IndexedSeq[Ordering[Any]]): IndexedSeq[(Long, Long, Array[Any])] = {
    def same(a: Array[Any], b: Array[Any]): Boolean = a.indices.forall { m =>
      if (a(m) == null || b(m) == null) a(m) == null && b(m) == null
      else ords(m).compare(a(m), b(m)) == 0
    }
    val out = ArrayBuffer.empty[(Long, Long, Array[Any])]
    grid.foreach { g =>
      val vs: Array[Any] = g.wins.map(w => if (w == null) null else w.v)
      if (out.nonEmpty && out.last._2 == g.s && same(out.last._3, vs))
        out(out.length - 1) = out.last.copy(_2 = g.e)
      else out += ((g.s, g.e, vs))
    }
    out.toIndexedSeq
  }
}
