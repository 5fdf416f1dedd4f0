package graft

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import graft.functions.ArrayOps._

/** SURVEY.md §2.2/§2.5 ensemble stacking — the 6 modes of sub_stacking.py
  * (sub_stacking.py:41-81) re-expressed over an array column of per-model
  * predictions (P5). The fold-ensemble mean (G2/G3) is one projection
  * in [[Model.crossValidate]].
  *
  * Input contract: a DataFrame with key column `id` and an
  * array<double> column `preds` (one element per stacked model), built by
  * the caller via an N-way equi-join on id (J1) — see Queries for the
  * join; N is small (ensemble members) so the joins broadcast.
  */
object Ensemble {
  val CutHi = 0.8 // sub_stacking.py:37
  val CutLo = 0.2 // sub_stacking.py:38

  // INTENTIONAL DEVIATION from sub_stacking.py:48-50,75-80: the
  // reference's np.all over iloc[:,1:] includes its own DERIVED
  // max/min/mean/median columns and (for bestbase) the base-submission
  // column in the all-above/all-below test — an artifact of slicing
  // every non-id column, arguably a bug (the derived columns can never
  // flip an all-members test, but the base column can flip bestbase's
  // branch). We gate on the ensemble MEMBERS only, the intended
  // semantics. Note the reference also names its cutoffs backwards
  // (cutoff_lo = 0.8 at sub_stacking.py:37-38).
  private def allAbove(preds: Column, cut: Double): Column = forall(preds, _ > lit(cut))
  private def allBelow(preds: Column, cut: Double): Column = forall(preds, _ < lit(cut))

  /** The 6 stacking modes; `base` is the extra base-submission column used
    * by MinMaxBestBase (sub_stacking.py:27,34,75-80). */
  def stack(mode: String, preds: Column, base: => Column): Column = mode match {
    case "mean"   => arrayMean(preds)
    case "median" => arrayMedian(preds)
    case "pushout_median" => // sub_stacking.py:53-57: force 1/0 outside cutoffs
      when(allAbove(preds, CutHi), lit(1.0))
        .when(allBelow(preds, CutLo), lit(0.0))
        .otherwise(arrayMedian(preds))
    case "minmax_mean" => // sub_stacking.py:60-64
      when(allAbove(preds, CutHi), array_max(preds))
        .when(allBelow(preds, CutLo), array_min(preds))
        .otherwise(arrayMean(preds))
    case "minmax_median" => // sub_stacking.py:67-71
      when(allAbove(preds, CutHi), array_max(preds))
        .when(allBelow(preds, CutLo), array_min(preds))
        .otherwise(arrayMedian(preds))
    case "minmax_bestbase" => // sub_stacking.py:75-80
      when(allAbove(preds, CutHi), array_max(preds))
        .when(allBelow(preds, CutLo), array_min(preds))
        .otherwise(base)
    case m => throw new IllegalArgumentException(s"unknown stacking mode: $m")
  }
}
