package graft.models

import org.apache.commons.math3.analysis.{MultivariateFunction, UnivariateFunction}
import org.apache.commons.math3.exception.{TooManyEvaluationsException, TooManyIterationsException}
import org.apache.commons.math3.optim.nonlinear.scalar.noderiv.{BOBYQAOptimizer, NelderMeadSimplex, SimplexOptimizer}
import org.apache.commons.math3.optim.nonlinear.scalar.{GoalType, ObjectiveFunction}
import org.apache.commons.math3.optim.univariate.{BrentOptimizer, SearchInterval, UnivariateObjectiveFunction}
import org.apache.commons.math3.optim.{BaseOptimizer, InitialGuess, MaxEval, MaxIter, OptimizationData, PointValuePair, SimpleBounds}

import scala.util.control.NonFatal

/**
 * The one fitting seam of the per-series models: every minimization in
 * `graft.models` runs through here, and nothing else touches commons-math's
 * optimizers. Objectives are SAM lambdas over primitive doubles, so an
 * evaluation boxes nothing (Nelder-Mead may call one 20,000 times per series).
 *
 * Nelder-Mead and BOBYQA never throw: a fit that runs out of evaluations or
 * fails returns its start point with the matching [[Fit.Status]]. Brent
 * propagates its exceptions.
 */
private[graft] object Fit {

  sealed trait Status
  object Status {
    case object Converged extends Status
    case object MaxEval extends Status
    case object Failed extends Status
  }

  final case class Result(point: Array[Double], evaluations: Int, status: Status)

  /** `f` behind a wall: `wall` wherever a coordinate leaves [lower, upper]
    * (the box covers the first `lower.length` coordinates; none by default)
    * or wherever `f` is not finite. */
  def penalized(wall: Double, lower: Array[Double] = Array.emptyDoubleArray,
      upper: Array[Double] = Array.emptyDoubleArray)(f: MultivariateFunction): MultivariateFunction =
    (x: Array[Double]) => {
      var inside = true
      var i = 0
      while (inside && i < lower.length) {
        inside = !(x(i) < lower(i) || x(i) > upper(i))
        i += 1
      }
      if (!inside) wall
      else {
        val v = f.value(x)
        if (v.isNaN || v.isInfinite) wall else v
      }
    }

  /** Nelder-Mead from `start` with simplex side `step`, stopping on the
    * relative/absolute value tolerances or after `maxEval` evaluations
    * (the iteration cap is the same number). */
  def nelderMead(f: MultivariateFunction, start: Array[Double], step: Double,
      rel: Double, abs: Double, maxEval: Int): Result =
    guarded(new SimplexOptimizer(rel, abs), start,
      new ObjectiveFunction(f), GoalType.MINIMIZE, new InitialGuess(start),
      new NelderMeadSimplex(start.length, step), new MaxEval(maxEval), new MaxIter(maxEval))

  /** BOBYQA inside [lower, upper] with 2n+1 interpolation points. */
  def bobyqa(f: MultivariateFunction, start: Array[Double], lower: Array[Double],
      upper: Array[Double], maxEval: Int): Result =
    guarded(new BOBYQAOptimizer(2 * start.length + 1), start,
      new ObjectiveFunction(f), GoalType.MINIMIZE, new InitialGuess(start),
      new SimpleBounds(lower, upper), new MaxEval(maxEval), new MaxIter(maxEval))

  /** Brent's 1-D search on [lo, hi]. Exceptions propagate. */
  def brent(f: UnivariateFunction, lo: Double, hi: Double, rel: Double, abs: Double,
      maxEval: Int): Result = {
    val opt = new BrentOptimizer(rel, abs)
    val res = opt.optimize(new UnivariateObjectiveFunction(f), GoalType.MINIMIZE,
      new SearchInterval(lo, hi), new MaxEval(maxEval))
    Result(Array(res.getPoint), opt.getEvaluations, Status.Converged)
  }

  /** The one optimizer catch: a run out of budget or a failure yields `start`. */
  private def guarded(opt: BaseOptimizer[PointValuePair], start: Array[Double],
      data: OptimizationData*): Result =
    try Result(opt.optimize(data: _*).getPoint, opt.getEvaluations, Status.Converged)
    catch {
      case _: TooManyEvaluationsException | _: TooManyIterationsException =>
        Result(start, opt.getEvaluations, Status.MaxEval)
      case NonFatal(_) => Result(start, opt.getEvaluations, Status.Failed)
    }
}
