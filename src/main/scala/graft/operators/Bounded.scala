package graft.operators

import org.apache.spark.sql.Dataset

/** The one driver-side size probe. Every operator that brings a
  * model, a census or an edge list to the driver only when it is
  * small, or picks a route by input size, asks here: "are there at
  * most `bound` rows?".
  *
  * The probe asks for `bound + 1` rows and no more, so the scan stops
  * once the answer is known and at most `bound + 1` rows ever reach
  * the driver. Two edge cases are decided here, once:
  *   - a bound ≤ 0 admits nothing — the size-routed operators'
  *     "force the declarative plan" switch, which the differential
  *     specs use as the reference;
  *   - at a bound ≥ `Int.MaxValue`, `bound + 1` is not a valid limit,
  *     and `limit(Int.MaxValue)` would truncate an input that is
  *     larger still and then pass the guard. There the probe reads the
  *     input unlimited, so an input is never reported as fitting
  *     because it was cut.
  *
  * Each caller keeps its own bound, error text and exception type. */
private[graft] object Bounded {

  /** `ds` limited to `bound + 1` rows, or `ds` itself when `bound + 1`
    * is not a valid limit. */
  private def cap[T](ds: Dataset[T], bound: Long): Dataset[T] =
    if (bound < Int.MaxValue) ds.limit(bound.toInt + 1) else ds

  /** Every row of `ds` when it has at most `bound` rows, in one job;
    * None when it has more or `bound` ≤ 0. */
  def collect[T](ds: Dataset[T], bound: Long): Option[Array[T]] =
    if (bound <= 0) None
    else Some(cap(ds, bound).collect()).filter(_.length <= bound)

  /** [[collect]] for a caller whose over-bound input is an error: the
    * rows, or `require`'s IllegalArgumentException with `msg`. */
  def collectOrFail[T](ds: Dataset[T], bound: Long)(msg: => Any): Array[T] = {
    val got = collect(ds, bound)
    require(got.isDefined, msg)
    got.get
  }

  /** Whether `ds` has at most `bound` rows, by one limited count;
    * false when `bound` ≤ 0. */
  def fits(ds: Dataset[_], bound: Long): Boolean =
    bound > 0 && cap(ds, bound).count() <= bound
}
