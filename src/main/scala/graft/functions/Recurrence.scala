package graft.functions

import java.io.{ByteArrayInputStream, ByteArrayOutputStream, ObjectInputStream,
  ObjectOutputStream}

import org.apache.spark.sql.{Column, DataFrame, GraftColumns}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, GenericInternalRow}
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.trees.UnaryLike
import org.apache.spark.sql.expressions.WindowSpec
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types.{DataType, DoubleType, StructField, StructType}

/** One exact per-series recurrence, written once and run two ways:
  * [[RecurrenceAgg]] over a running window frame (batch) and the
  * per-series fold of [[graft.streaming.StreamingTSDF]] (stream). Both call
  * the same `init`/`step`/`onNull`/`emit`, so a batch column and its
  * streaming twin run the same IEEE ops in the same order and are
  * bit-identical by construction.
  *
  * `init` seeds the state from a series' first non-null value, `step` folds
  * every later non-null value in, and `emit` reads the DOUBLE output
  * `fields` from the state (None leaves a field null, e.g. through the
  * Holt-Winters warm-up season).
  *
  * The null rule, the same in both drivers: before a series' first
  * non-null value there is no state and every field is null; after it, a
  * null value goes to `onNull` and the row emits from the state it
  * returns. The default `onNull` keeps the state (ema, ewmVar, holt,
  * holtWinters, kalman); a recurrence that reads the row itself (rsi,
  * macd, drawdown, the trailing frames) says what a null does in its own
  * definition below.
  *
  * Equality, hashing and the plan string use the first parameter list only
  * (name + parameters), so two copies of one recurrence are the same
  * Catalyst expression.
  *
  * Reference scope note: tempo's smoothing family is the truncated-lag
  * `ema` (tempo/tsdf.py:1044-1071); these are its exact, one-pass
  * complements. */
final case class Recurrence[S](name: String, params: Double*)(
    val fields: Seq[String],
    val init: Double => S,
    val step: (S, Double) => S,
    val emit: S => Seq[Option[Double]],
    val onNull: S => S = (s: S) => s) {

  /** Adds one column per output field, named by `names`, computed over `x`
    * on the running frame `w` (unbounded preceding → current row). One
    * window aggregate per call; the struct is split and dropped after. */
  def addColumns(df: DataFrame, x: Column, w: WindowSpec,
      names: Seq[String]): DataFrame = {
    require(names.size == fields.size, s"$name emits ${fields.mkString(", ")}")
    val tmp = s"__$name"
    val agg = GraftColumns.column(RecurrenceAgg(this,
      GraftColumns.expression(x.cast(DoubleType))).toAggregateExpression())
    names.zip(fields)
      .foldLeft(df.withColumn(tmp, agg.over(w))) { case (d, (n, f)) =>
        d.withColumn(n, col(s"$tmp.$f"))
      }
      .drop(tmp)
  }
}

object Recurrence {

  private def all(xs: Double*): Seq[Option[Double]] = xs.map(Some(_))

  final case class Ema(ema: Double)

  /** Exponential moving average: ema_0 = x_0, ema_t = α·x_t + (1−α)·ema_{t−1}. */
  def ema(alpha: Double): Recurrence[Ema] = Recurrence[Ema]("ema", alpha)(
    Seq("ema"), x => Ema(x),
    (s, x) => Ema(alpha * x + (1 - alpha) * s.ema),
    s => all(s.ema))

  final case class EwmVar(mean: Double, variance: Double)

  /** Exponentially weighted mean + variance (RiskMetrics volatility), the
    * West/Welford EW update — the d² term is discounted by (1−α), so v is
    * the EW second central moment about the UPDATED mean and v ≥ 0:
    *   m_0 = x_0, v_0 = 0; d = x_t − m_{t−1}
    *   m_t = α·x_t + (1−α)·m_{t−1};  v_t = (1−α)·v_{t−1} + α·d·d·(1−α) */
  def ewmVar(alpha: Double): Recurrence[EwmVar] =
    Recurrence[EwmVar]("ewm_var", alpha)(
      Seq("mean", "variance"), x => EwmVar(x, 0.0),
      (s, x) => {
        val d = x - s.mean
        EwmVar(alpha * x + (1 - alpha) * s.mean,
          (1 - alpha) * s.variance + alpha * d * d * (1 - alpha))
      },
      s => all(s.mean, s.variance))

  final case class Holt(level: Double, trend: Double)

  /** Holt double-exponential smoothing (level + trend), the trend-aware
    * EMA — a plain EMA lags a ramp by (1−α)/α steps forever:
    *   l_0 = x_0, b_0 = 0
    *   l_t = α·x_t + (1−α)·(l_{t−1} + b_{t−1})
    *   b_t = β·(l_t − l_{t−1}) + (1−β)·b_{t−1} */
  def holt(alpha: Double, beta: Double): Recurrence[Holt] =
    Recurrence[Holt]("holt", alpha, beta)(
      Seq("level", "trend"), x => Holt(x, 0.0),
      (s, x) => {
        val newLevel = alpha * x + (1 - alpha) * (s.level + s.trend)
        Holt(newLevel, beta * (newLevel - s.level) + (1 - beta) * s.trend)
      },
      s => all(s.level, s.trend))

  /** Warm-up count/sum, level, trend and the rotated seasonal ring (during
    * warm-up: the raw values seen so far). */
  final case class HoltWinters(cnt: Int, warmSum: Double, level: Double,
      trend: Double, ring: Vector[Double])

  /** Additive Holt-Winters (level + trend + season of length m):
    *   warm-up (first m observations): no output, accumulate x₁…x_m
    *   at t = m:  l = (x₁+…+x_m)/m (left-to-right sum), b = 0, s_i = x_i − l
    *   for t > m: l_t = α·(x_t − s_{t−m}) + (1−α)·(l_{t−1} + b_{t−1})
    *              b_t = β·(l_t − l_{t−1}) + (1−β)·b_{t−1}
    *              s_t = γ·(x_t − l_t) + (1−γ)·s_{t−m}
    * The ring is kept ROTATED (head = the factor the next observation
    * consumes), so each step is `head-use, tail :+ new` — the same
    * representation a recursive-CTE replay uses (`sl[2:] || [s_new]`).
    * Skipped nulls keep the seasonal phase (they are not zero-filled). */
  def holtWinters(alpha: Double, beta: Double, gamma: Double,
      m: Int): Recurrence[HoltWinters] = {
    require(m >= 2, "season length m must be >= 2")
    val step = (s: HoltWinters, x: Double) => {
      val cnt = s.cnt + 1
      if (cnt < m) s.copy(cnt = cnt, warmSum = s.warmSum + x, ring = s.ring :+ x)
      else if (cnt == m) {
        val ws = s.warmSum + x
        val level = ws / m
        HoltWinters(cnt, ws, level, 0.0, (s.ring :+ x).map(w => w - level))
      } else {
        val sPrev = s.ring.head
        val nl = alpha * (x - sPrev) + (1 - alpha) * (s.level + s.trend)
        val nt = beta * (nl - s.level) + (1 - beta) * s.trend
        val sNew = gamma * (x - nl) + (1 - gamma) * sPrev
        HoltWinters(cnt, s.warmSum, nl, nt, s.ring.tail :+ sNew)
      }
    }
    Recurrence[HoltWinters]("holt_winters", alpha, beta, gamma, m)(
      Seq("level", "trend", "seasonal"),
      x => step(HoltWinters(0, 0.0, 0.0, 0.0, Vector.empty), x), step,
      s => if (s.cnt > m) all(s.level, s.trend, s.ring.last) else Seq.fill(3)(None))
  }

  final case class Kalman(m: Double, p: Double, k: Double)

  /** 1-D local-level Kalman filter — an EMA whose gain ADAPTS, high while
    * the level is uncertain and settling as evidence accumulates:
    *   m_0 = y_0, P_0 = p0, K_0 = 1
    *   P⁻ = P_{t−1} + q;  K = P⁻ / (P⁻ + r)
    *   m_t = m_{t−1} + K·(y_t − m_{t−1});  P_t = (1 − K)·P⁻
    * Emits (level, variance, gain). */
  def kalman(q: Double, r: Double, p0: Double): Recurrence[Kalman] =
    Recurrence[Kalman]("kalman", q, r, p0)(
      Seq("level", "variance", "gain"), y => Kalman(y, p0, 1.0),
      (s, y) => {
        val pPred = s.p + q
        val k = pPred / (pPred + r)
        Kalman(s.m + k * (y - s.m), (1.0 - k) * pPred, k)
      },
      s => all(s.m, s.p, s.k))

  /** The previous value (None after a null), the two smoothed moves, and
    * whether a move has been seen. */
  final case class Rsi(prev: Option[Double], gain: Double, loss: Double,
      moved: Boolean)

  /** Relative Strength Index (Wilder, EMA-seeded variant): moves
    * Δ_t = x_t − x_{t−1} split into gain = max(Δ, 0) and loss = max(−Δ, 0),
    * each smoothed by the [[ema]] step with α = 1/n, seeded with the FIRST
    * move rather than Wilder's n-bar simple average (a documented variant
    * that keeps the filter one fixed-order recursion).
    * rsi = 100·gain/(gain + loss); null before the first move and while
    * gain + loss = 0. NULL: a null forgets the previous value, so the next
    * row makes no move (batch's `x − lag(x)` is null there); the smoothed
    * moves keep their state and the row emits the current rsi. */
  def rsi(n: Int): Recurrence[Rsi] = {
    require(n >= 1, "n must be >= 1")
    val alpha = 1.0 / n
    def ema(s: Double, x: Double) = alpha * x + (1 - alpha) * s
    Recurrence[Rsi]("rsi", n)(Seq("rsi"),
      x => Rsi(Some(x), 0.0, 0.0, moved = false),
      (s, x) => s.prev.fold(s.copy(prev = Some(x))) { p =>
        val d = x - p
        // Spark's greatest(d, 0.0): -0.0 and NaN pass through
        val (g, l) = (if (d < 0.0) 0.0 else d, if (-d < 0.0) 0.0 else -d)
        if (s.moved) Rsi(Some(x), ema(s.gain, g), ema(s.loss, l), moved = true)
        else Rsi(Some(x), g, l, moved = true)
      },
      s => Seq(Option.when(s.moved && s.gain + s.loss != 0.0)(
        100.0 * s.gain / (s.gain + s.loss))),
      onNull = _.copy(prev = None))
  }

  final case class Macd(fast: Double, slow: Double, signal: Double)

  /** MACD: fast and slow [[ema]] lines over the value (α = 2/(span+1), the
    * classic convention), macd = fast − slow, signal = the [[ema]] of the
    * macd line, hist = macd − signal. NULL: fast and slow keep their state,
    * so the macd line is carried forward non-null, and the signal steps
    * again on it. That second step on a null row is the published batch
    * output (the signal as an EMA over the macd column), kept bit for bit;
    * `NullRuleSpec` pins it. */
  def macd(fast: Int, slow: Int, signal: Int): Recurrence[Macd] = {
    require(fast >= 1 && slow >= 1 && signal >= 1, "spans must be >= 1")
    val (af, as, asig) = (2.0 / (fast + 1), 2.0 / (slow + 1), 2.0 / (signal + 1))
    def sig(s: Macd, f: Double, sl: Double) =
      Macd(f, sl, asig * (f - sl) + (1 - asig) * s.signal)
    Recurrence[Macd]("macd", fast, slow, signal)(
      Seq("macd", "signal", "hist"), x => Macd(x, x, x - x),
      (s, x) => sig(s, af * x + (1 - af) * s.fast, as * x + (1 - as) * s.slow),
      s => all(s.fast - s.slow, s.signal, s.fast - s.slow - s.signal),
      onNull = s => sig(s, s.fast, s.slow))
  }

  /** Spark SQL's double order, which its min/max fold in: NaN above every
    * value, -0.0 equal to 0.0. */
  private def sqlGt(a: Double, b: Double): Boolean = if (a.isNaN) !b.isNaN else a > b

  /** The running peak and the row's value (None on a null row). */
  final case class Drawdown(peak: Double, value: Option[Double])

  /** Running peak and drawdown: peak = the running maximum (Spark's max:
    * the first of equal values stays), drawdown = peak − value. NULL: the
    * peak keeps its value and the drawdown is null. */
  val drawdown: Recurrence[Drawdown] = Recurrence[Drawdown]("drawdown")(
    Seq("peak", "drawdown"), x => Drawdown(x, Some(x)),
    (s, x) => Drawdown(if (sqlGt(x, s.peak)) x else s.peak, Some(x)),
    s => Seq(Some(s.peak), s.value.map(s.peak - _)),
    onNull = _.copy(value = None))

  /** A trailing frame of the last `window` rows, oldest first; a null value
    * takes a slot (None) and adds no value. */
  final case class Frame(slots: Vector[Option[Double]]) {
    def push(x: Option[Double], window: Int): Frame =
      Frame((slots :+ x).takeRight(window))
    /** (low, high) of the values, folded in row order as Spark's min/max
      * fold a sliding frame; None when no slot holds a value. */
    def lowHigh: Option[(Double, Double)] = {
      val xs = slots.flatten
      Option.when(xs.nonEmpty)((xs.reduceLeft((lo, x) => if (sqlGt(lo, x)) x else lo),
        xs.reduceLeft((hi, x) => if (sqlGt(x, hi)) x else hi)))
    }
  }

  /** The frame and the last three %K, newest first. */
  final case class Stochastic(frame: Frame, k: Option[Double],
      k1: Option[Double], k2: Option[Double])

  /** Stochastic oscillator over the trailing `window` rows (partial frames
    * at the series head use the rows available): %K = 100·(x − ll)/(hh − ll)
    * with ll/hh the frame's low/high, null on a flat frame (hh = ll); %D =
    * the left-to-right mean of the last three %K, null until all three
    * exist. NULL: the row takes a frame slot and its %K is null. */
  def stochastic(window: Int): Recurrence[Stochastic] = {
    require(window >= 1, "window must be >= 1")
    def push(s: Stochastic, x: Option[Double]) = {
      val frame = s.frame.push(x, window)
      val k = for (v <- x; (ll, hh) <- frame.lowHigh
          if !(hh == ll || hh.isNaN && ll.isNaN)) // Spark's =!= on doubles
        yield 100.0 * (v - ll) / (hh - ll)
      Stochastic(frame, k, s.k, s.k1)
    }
    Recurrence[Stochastic]("stochastic", window)(Seq("pct_k", "pct_d"),
      x => push(Stochastic(Frame(Vector.empty), None, None, None), Some(x)),
      (s, x) => push(s, Some(x)),
      s => Seq(s.k, for (a <- s.k2; b <- s.k1; c <- s.k) yield (a + b + c) / 3.0),
      onNull = push(_, None))
  }

  /** Donchian channels over the trailing `window` rows (partial frames at
    * the series head use the rows available): upper/lower = the frame's
    * high/low, mid = (upper + lower)/2; all null while the frame holds no
    * value. NULL: the row takes a frame slot and adds no value. */
  def donchian(window: Int): Recurrence[Frame] = {
    require(window >= 1, "window must be >= 1")
    Recurrence[Frame]("donchian", window)(Seq("upper", "lower", "mid"),
      x => Frame(Vector(Some(x))), (s, x) => s.push(Some(x), window),
      _.lowHigh.fold(Seq.fill(3)(Option.empty[Double])) { case (lo, hi) =>
        all(hi, lo, (hi + lo) / 2.0)
      },
      onNull = _.push(None, window))
  }
}

/** The batch runner: any [[Recurrence]] as a window aggregate. Over a
  * running frame Spark updates the buffer once per row and evaluates after
  * each update — one pass per series, the recurrence's state as the buffer.
  * A null input goes to the recurrence's `onNull` once there is a state
  * (the null rule in [[Recurrence]]). A recurrence prefix
  * cannot be combined from two halves, so partial-aggregate merge is
  * unsupported by construction: the expression is window-only. */
case class RecurrenceAgg(
    rec: Recurrence[_],
    child: Expression,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[RecurrenceAgg.Buf] with UnaryLike[Expression] {

  private def r = rec.asInstanceOf[Recurrence[Any]]

  override def dataType: DataType =
    StructType(rec.fields.map(StructField(_, DoubleType)))
  override def nullable: Boolean = true
  override def prettyName: String = s"graft_${rec.name}"

  override def createAggregationBuffer(): RecurrenceAgg.Buf = new RecurrenceAgg.Buf(null)

  override def update(b: RecurrenceAgg.Buf, input: InternalRow): RecurrenceAgg.Buf = {
    val v = child.eval(input)
    if (v != null) {
      val x = v.asInstanceOf[Double]
      b.s = if (b.s == null) r.init(x) else r.step(b.s, x)
    } else if (b.s != null) b.s = r.onNull(b.s)
    b
  }

  override def merge(b: RecurrenceAgg.Buf, other: RecurrenceAgg.Buf): RecurrenceAgg.Buf =
    throw new UnsupportedOperationException(
      s"$prettyName is a window-only aggregate: a recurrence cannot be " +
        "merged from partial aggregates; use it over a running window frame")

  override def eval(b: RecurrenceAgg.Buf): Any =
    if (b.s == null) null
    else new GenericInternalRow(r.emit(b.s).map(_.fold(null: Any)(v => v)).toArray)

  override def serialize(b: RecurrenceAgg.Buf): Array[Byte] = {
    val bytes = new ByteArrayOutputStream()
    val out = new ObjectOutputStream(bytes)
    out.writeObject(b.s)
    out.close()
    bytes.toByteArray
  }

  override def deserialize(bytes: Array[Byte]): RecurrenceAgg.Buf =
    new RecurrenceAgg.Buf(
      new ObjectInputStream(new ByteArrayInputStream(bytes)).readObject())

  override def withNewMutableAggBufferOffset(newOffset: Int): RecurrenceAgg =
    copy(mutableAggBufferOffset = newOffset)

  override def withNewInputAggBufferOffset(newOffset: Int): RecurrenceAgg =
    copy(inputAggBufferOffset = newOffset)

  override protected def withNewChildInternal(newChild: Expression): RecurrenceAgg =
    copy(child = newChild)
}

object RecurrenceAgg {
  /** The running state, null until the first non-null value. */
  final class Buf(var s: Any)
}
