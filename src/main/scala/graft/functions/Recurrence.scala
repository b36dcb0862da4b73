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
  * the same `init`/`step`/`emit`, so a batch column and its streaming twin
  * run the same IEEE ops in the same order and are bit-identical by
  * construction.
  *
  * `init` seeds the state from a series' first non-null value, `step` folds
  * every later non-null value in, and `emit` reads the DOUBLE output
  * `fields` from the state (None while there is no output yet, e.g. the
  * Holt-Winters warm-up season). A null value is skipped: the state is
  * kept and the row still emits the current output.
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
    val emit: S => Option[Array[Double]]) {

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

  final case class Ema(ema: Double)

  /** Exponential moving average: ema_0 = x_0, ema_t = α·x_t + (1−α)·ema_{t−1}. */
  def ema(alpha: Double): Recurrence[Ema] = Recurrence[Ema]("ema", alpha)(
    Seq("ema"), x => Ema(x),
    (s, x) => Ema(alpha * x + (1 - alpha) * s.ema),
    s => Some(Array(s.ema)))

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
      s => Some(Array(s.mean, s.variance)))

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
      s => Some(Array(s.level, s.trend)))

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
      s => if (s.cnt > m) Some(Array(s.level, s.trend, s.ring.last)) else None)
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
      s => Some(Array(s.m, s.p, s.k)))
}

/** The batch runner: any [[Recurrence]] as a window aggregate. Over a
  * running frame Spark updates the buffer once per row and evaluates after
  * each update — one pass per series, the recurrence's state as the buffer.
  * Null inputs keep the state (the row still evaluates to the current
  * output; null before the first non-null value). A recurrence prefix
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
    }
    b
  }

  override def merge(b: RecurrenceAgg.Buf, other: RecurrenceAgg.Buf): RecurrenceAgg.Buf =
    throw new UnsupportedOperationException(
      s"$prettyName is a window-only aggregate: a recurrence cannot be " +
        "merged from partial aggregates; use it over a running window frame")

  override def eval(b: RecurrenceAgg.Buf): Any =
    if (b.s == null) null
    else r.emit(b.s).map(a => new GenericInternalRow(a.map(v => v: Any))).orNull

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
